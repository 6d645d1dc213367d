package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ResultCache, SnapshotLog}

class ResultCacheSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def fresh(name: String): (SnapshotLog, ResultCache) = {
    val log = new SnapshotLog(s"${GraftSession.target}/rescache_spec/$name/log")
    log.recreate()
    val cache = new ResultCache(s"${GraftSession.target}/rescache_spec/$name/cache")
    cache.recreate()
    (log, cache)
  }

  test("hit serves stored bytes without recompute; commit invalidates by version") {
    val (log, cache) = fresh("basic")
    log.append((1 to 10).map(i => (i.toLong, i.toLong * 2)).toDF("k", "v"), partitions = 2)
    val n = new AtomicInteger(0)
    def total(df: org.apache.spark.sql.DataFrame) = {
      n.incrementAndGet()
      df.agg(sum(col("v")).as("s"))
    }
    val (r1, h1) = cache.resultFor(spark, log, "t")(total)
    assert(!h1 && r1.head().getLong(0) == 110L && n.get() == 1)
    val (r2, h2) = cache.resultFor(spark, log, "t")(total)
    assert(h2 && r2.head().getLong(0) == 110L && n.get() == 1, "hit must not recompute")
    log.append(Seq((11L, 100L)).toDF("k", "v"), partitions = 1)
    val (r3, h3) = cache.resultFor(spark, log, "t")(total)
    assert(!h3 && r3.head().getLong(0) == 210L && n.get() == 2, "new version must miss")
    // the old version's entry still hits for a pinned-style rerun: the key
    // is (tag, version), so distinct tags/versions never collide
    val (_, h4) = cache.resultFor(spark, log, "t")(total)
    assert(h4 && n.get() == 2)
  }

  test("prune drops dead-version entries and temp junk, keeps live ones") {
    val (log, cache) = fresh("prune")
    log.append(Seq((1L, 1L)).toDF("k", "v"), partitions = 1)
    cache.resultFor(spark, log, "t")(df => df.agg(count(lit(1))))
    log.append(Seq((2L, 2L)).toDF("k", "v"), partitions = 1)
    cache.resultFor(spark, log, "t")(df => df.agg(count(lit(1))))
    log.expire(keepFrom = 1L)
    val gone = cache.prune(log)
    assert(gone.exists(_.contains("v00000000")) && !gone.exists(_.contains("v00000001")))
    // pruning is idempotent and the live entry still hits
    assert(cache.prune(log).isEmpty)
    val (_, hit) = cache.resultFor(spark, log, "t")(df => df.agg(count(lit(1))))
    assert(hit)
  }

  test("prune sweeps only temp dirs older than the grace period") {
    val (log, cache) = fresh("tempgrace")
    log.append(Seq((1L, 1L)).toDF("k", "v"), partitions = 1)
    cache.resultFor(spark, log, "t")(df => df.agg(count(lit(1))))
    val tagDir = new java.io.File(s"${GraftSession.target}/rescache_spec/tempgrace/cache/t")
    val young = new java.io.File(tagDir, ".v00000001.tmp-inflight")
    val old = new java.io.File(tagDir, ".v00000001.tmp-crashed")
    assert(young.mkdirs() && old.mkdirs())
    assert(old.setLastModified(System.currentTimeMillis() - 7200000L))
    val gone = cache.prune(log)
    assert(gone.exists(_.endsWith(".tmp-crashed")), "old temp must be swept")
    assert(!gone.exists(_.endsWith(".tmp-inflight")) && young.exists(),
      "an in-flight temp younger than the grace period must survive prune")
    // an explicit zero grace sweeps everything dot-prefixed
    assert(cache.prune(log, tempGraceMs = -1L).exists(_.endsWith(".tmp-inflight")))
  }

  test("unsafe tags and wipes outside target/ are refused") {
    val (log, cache) = fresh("guard")
    log.append(Seq((1L, 1L)).toDF("k", "v"), partitions = 1)
    intercept[IllegalArgumentException] {
      cache.resultFor(spark, log, "../escape")(df => df)
    }
    intercept[IllegalArgumentException] {
      new ResultCache(s"${GraftSession.target}/../rescache_escape").recreate()
    }
  }
}
