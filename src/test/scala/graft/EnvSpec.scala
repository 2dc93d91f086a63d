package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

class EnvSpec extends AnyFunSuite {

  test("blank means unset, a bad int names its variable") {
    for (blank <- Seq(None, Some(""), Some("  "))) {
      assert(Env.string("V", blank).isEmpty)
      assert(Env.positiveInt("V", blank).isEmpty)
      assert(Env.names("V", blank).isEmpty)
    }
    assert(Env.string("V", Some(" /x/sf ")) == Some("/x/sf"))
    assert(Env.positiveInt("V", Some(" 8 ")) == Some(8))
    assert(Env.names("V", Some("q_a, q_b,,")) == Some(Set("q_a", "q_b")))
    assert(Env.names("V", Some(" , ")).isEmpty)
    for (bad <- Seq("x", "1.5", "0", "-2", "99999999999")) {
      val e = intercept[IllegalArgumentException](
        Env.positiveInt("SPARK_GRAFT_REPS", Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_REPS"), e.getMessage)
    }
  }

  test("the engine reads exactly the five driver-contract env knobs") {
    // relative to the working directory sbt runs the tests in: the
    // project root
    val root = Paths.get("src/main/scala").toAbsolutePath
    assert(Files.isDirectory(root), s"$root is not the engine's source tree")
    val knob = "SPARK_GRAFT_[A-Z_]+".r
    val found = Using.resource(Files.walk(root)) { paths =>
      paths.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(p => knob.findAllIn(Files.readString(p))).toSet
    }
    assert(found == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_REPS", "SPARK_GRAFT_ONLY", "SPARK_GRAFT_SKIP"))
  }
}
