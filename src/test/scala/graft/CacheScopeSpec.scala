package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.scalatest.funsuite.AnyFunSuite

class CacheScopeSpec extends AnyFunSuite {

  test("a throwing deferred cleanup is logged and later cleanups still run") {
    // whether or not a suite started Spark's logging first
    Configurator.setLevel("graft.CacheScope", Level.WARN)
    val ran = scala.collection.mutable.ListBuffer.empty[String]
    val (_, warns) = LogCapture.warnings {
      CacheScope.scoped {
        CacheScope.defer(() => ran += "first")
        CacheScope.defer(() => throw new IllegalStateException("boom"))
        CacheScope.defer(() => ran += "last")
      }
    }
    assert(ran.toList == List("first", "last"))
    assert(warns.exists(_.contains("cleanup failed")), warns)
    assert(warns.contains("boom"), warns)
  }
}
