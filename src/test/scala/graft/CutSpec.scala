package graft

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.CacheManager
import org.apache.spark.sql.functions._

import graft.plans.Iterate

/** The materialization helper releases what it persisted on every path,
  * the failure path included: a query that throws leaves the session's
  * CacheManager as it found it. A lazy persist registers its entry at
  * once, before any block exists, so the checks read the CacheManager
  * rather than the persisted RDDs. Each test starts from an empty
  * cache. */
class CutSpec extends SparkSpec {
  import spark.implicits._

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  private def fromEmptyCache(name: String)(body: => Any): Unit =
    test(name) {
      spark.catalog.clearCache()
      body
      assert(cacheEmpty)
    }

  /** Rows that fail with `raise_error` when a job computes them. */
  private def failingWords: DataFrame = spark.range(4).select(
    when($"id" >= 0, raise_error(lit("planted failure")))
      .otherwise(lit("ab")).as("word"),
    lit(2L).as("freq"))

  /** What the CacheManager logs while `body` runs. */
  private def cacheManagerLog(body: => Any): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("cut-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(classOf[CacheManager]).asInstanceOf[Logger]
    logger.addAppender(appender)
    try body
    finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    seen.asScala.toSeq
  }

  fromEmptyCache("scoped persists for the body and releases after it") {
    val n = Cut.scoped(spark.range(5).toDF("x")) { held =>
      assert(!cacheEmpty)
      held.count()
    }
    assert(n === 5L)
  }

  fromEmptyCache("scoped releases the frame when the body throws") {
    intercept[IllegalStateException](Cut.scoped(spark.range(5).toDF("x")) {
      held =>
        held.count()
        throw new IllegalStateException("planted")
    })
  }

  fromEmptyCache("eager materializes without a CacheManager entry") {
    assert(Cut.eager(spark.range(5).toDF("x")).count() === 5L)
  }

  fromEmptyCache("rounds keeps one generation and releases it at the end") {
    val last = Cut.rounds(spark.range(3).toDF("x")) { g =>
      for (_ <- 1 to 3) {
        g.advance(g.current.select(($"x" + 1).as("x")))(_.count())
        assert(!cacheEmpty)
      }
      g.current.agg(max($"x")).head().getLong(0)
    }
    assert(last === 5L)
  }

  fromEmptyCache("rounds adopts a scoped frame as its first generation " +
    "instead of caching it twice") {
    val log = cacheManagerLog {
      Cut.scoped(spark.range(3).toDF("x")) { held =>
        held.count()
        Cut.rounds(held) { g =>
          assert(g.current eq held)
          g.advance(g.current.select(($"x" + 1).as("x")))(_.count())
        }
      }
    }
    assert(!log.exists(_.contains("already cached")), log)
    // the capture does see a second cache of the same frame
    val control = cacheManagerLog(
      Cut.scoped(spark.range(3).toDF("x"))(Cut.retained(_)))
    assert(control.exists(_.contains("already cached")), control)
  }

  fromEmptyCache("rounds releases both generations when a " +
    "materialization throws") {
    intercept[Exception](Cut.rounds(spark.range(3).toDF("word")) { g =>
      g.advance(failingWords)(_.count())
    })
  }

  fromEmptyCache("the distributed BPE, byte-BPE and WordPiece trainers " +
    "leave no cache entry when a round fails") {
    val trainers = Seq[DataFrame => Any](
      functions.Bpe.trainDistributed, functions.ByteBpe.trainDistributed,
      functions.WordPiece.trainDistributed)
    trainers.foreach { train =>
      intercept[Exception](train(failingWords))
      assert(cacheEmpty)
    }
  }

  fromEmptyCache("fixpoint leaves no cache entry when its step throws " +
    "in round 2") {
    var round = 0
    val e = intercept[IllegalStateException](
      Iterate.fixpoint(spark.range(10).toDF("id"), fanout = 2,
          maxIters = 5) { cur =>
        round += 1
        if (round == 2) throw new IllegalStateException("planted")
        cur.select(($"id" + 1).as("id"))
      } { (next, _) => next.count(); false } {
        n => s"no fixpoint in $n rounds"
      })
    assert(e.getMessage === "planted")
  }
}
