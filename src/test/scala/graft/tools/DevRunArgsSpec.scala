package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** DevRun's argument checks run before any Spark session starts. */
class DevRunArgsSpec extends AnyFunSuite {

  test("no positional key fails with the no-keys message") {
    for (args <- Seq(Array("--explain"), Array.empty[String], Array(",,", "--explain"))) {
      val e = intercept[IllegalArgumentException](DevRun.main(args))
      assert(e.getMessage.contains("no query keys given"), e.getMessage)
    }
  }

  test("an unknown key fails by name") {
    val e = intercept[IllegalArgumentException](
      DevRun.main(Array("no_such_key", "--explain")))
    assert(e.getMessage.contains("no_such_key"), e.getMessage)
  }
}
