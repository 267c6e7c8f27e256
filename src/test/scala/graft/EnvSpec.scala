package graft

import org.scalatest.funsuite.AnyFunSuite

class EnvSpec extends AnyFunSuite {
  private def env(v: String): String => Option[String] = Map("X" -> v).get

  test("unset variables fall back to the caller's default") {
    assert(Env.positiveInt("X", _ => None) === None)
    assert(Env.positiveDouble("X", _ => None) === None)
  }

  test("positive values parse") {
    assert(Env.positiveInt("X", env("4")) === Some(4))
    assert(Env.positiveInt("X", env(" 32 ")) === Some(32))
    assert(Env.positiveDouble("X", env("0.5")) === Some(0.5))
    assert(Env.positiveDouble("X", env("2400")) === Some(2400.0))
  }

  test("0, -1, abc and the empty string fail with a message naming the variable") {
    for (bad <- Seq("0", "-1", "abc", "")) {
      val i = intercept[IllegalArgumentException](
        Env.positiveInt("SPARK_GRAFT_REPS", Map("SPARK_GRAFT_REPS" -> bad).get))
      assert(i.getMessage === s"SPARK_GRAFT_REPS must be an integer >= 1, got '$bad'")
      val d = intercept[IllegalArgumentException](
        Env.positiveDouble("SPARK_GRAFT_DEADLINE_SEC", Map("SPARK_GRAFT_DEADLINE_SEC" -> bad).get))
      assert(d.getMessage === s"SPARK_GRAFT_DEADLINE_SEC must be a number > 0, got '$bad'")
    }
  }

  test("integer settings reject fractions") {
    assert(intercept[IllegalArgumentException](Env.positiveInt("X", env("1.5")))
      .getMessage.contains("X must be an integer"))
  }
}
