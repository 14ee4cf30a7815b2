package graft.index

import java.io.File

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** CI gate for the Python surface: runs scripts/test_python_api.py (a real
  * pyspark session over the packaged jar, py4j wrapper lifecycle + query
  * parity). `sbt test` and `sbt testOnly` package the jar first (build.sbt
  * wiring); the test cancels (rather than fails) when python3/pyspark are
  * unavailable. */
class PythonApiSpec extends AnyFunSuite {

  private def haveTool(cmd: Seq[String]): Boolean =
    try cmd.!(ProcessLogger(_ => ())) == 0 catch { case _: Exception => false }

  test("python API end-to-end via pyspark") {
    val jar = new File("target/scala-2.13/parquetindexspark_2.13-0.1.0.jar")
    assume(jar.exists(),
      s"packaged jar missing at $jar (`sbt test` and `sbt testOnly` package it first)")
    assume(haveTool(Seq("python3", "-c", "import pyspark")), "python3+pyspark unavailable")
    val out = new StringBuilder
    val code = Process(Seq("python3", "scripts/test_python_api.py"))
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(code == 0, s"python API test failed (exit $code):\n$out")
    assert(out.toString.contains("PYTHON API OK"), s"unexpected output:\n$out")
  }
}
