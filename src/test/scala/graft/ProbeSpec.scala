package graft

import org.apache.spark.sql.functions._
import graft.algorithms.{Probe, Tuning}

class ProbeSpec extends SparkSpec {

  test("checkpointObserved returns the frame and the metrics of one job") {
    val implicits = spark.implicits
    import implicits._
    val df = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
    val (out, m) = Probe.checkpointObserved(df,
      count(lit(1)).as("n"), sum(col("v").cast("decimal(38,0)")).as("s"))
    assert(out.count() === 3L)
    assert(m("n") === 3L)
    assert(m("s").asInstanceOf[java.math.BigDecimal].longValueExact() === 60L)
    // the checkpointed frame is live and re-usable downstream
    assert(out.agg(sum("id")).head.getLong(0) === 6L)
    val (counted, n) = Probe.checkpointCounted(df)
    assert(n === 3L)
    assert(counted.agg(sum("id")).head.getLong(0) === 6L)
  }

  test("checkpointObserved on an empty frame: count 0, sum null") {
    val implicits = spark.implicits
    import implicits._
    val df = Seq.empty[(Long, Long)].toDF("id", "v")
    val (out, m) = Probe.checkpointObserved(df,
      count(lit(1)).as("n"), sum(col("v").cast("decimal(38,0)")).as("s"))
    assert(out.count() === 0L)
    assert(m("n") === 0L)
    assert(m("s") === null)
    val (counted, n) = Probe.checkpointCounted(df)
    assert(n === 0L)
    assert(counted.count() === 0L)
  }

  test("Tuning.fitsProduct: an n² pair state that overflows a Long does not fit") {
    val n = 3037000500L // n * n wraps negative in Long arithmetic
    assert(n * n < 0L)
    assert(!Tuning.fitsProduct(n, n))
    Tuning.withBroadcastThreshold(Long.MaxValue) {
      assert(!Tuning.fitsProduct(n, n))
      assert(Tuning.fitsProduct(3037000499L, 3037000499L))
    }
    Tuning.withBroadcastThreshold(625L) {
      assert(Tuning.fitsProduct(25L, 25L) && !Tuning.fitsProduct(25L, 26L))
      assert(Tuning.fits(625L, 0L) && !Tuning.fits(625L, 626L))
    }
  }

  test("Bench.hostSuspect: the CPU-steal signature and nothing else") {
    // contended round-10 artifact rows (32-core host): multi-second
    // wall, 1-3 effective cores, flat GC — must flag
    assert(Bench.hostSuspect(20.35, 21.0, 0L, 32))    // q_jaro_match
    assert(Bench.hostSuspect(64.12, 90.4, 447L, 32))  // q_bloom_decontam
    assert(Bench.hostSuspect(14.98, 16.8, 0L, 32))    // q_holt
    // genuinely parallel heavy rows (10+ effective cores) — clean
    assert(!Bench.hostSuspect(19.27, 293.9, 790L, 32)) // build:minhash_pairs
    assert(!Bench.hostSuspect(58.73, 710.0, 0L, 32))   // q_kcore
    // sub-5s rows never flag (scheduler jitter floor)
    assert(!Bench.hostSuspect(4.9, 4.9, 0L, 32))
    // GC-dominated slow row is a memory story, not CPU steal
    assert(!Bench.hostSuspect(10.0, 12.0, 2500L, 32))
    // no JVM cpu support (cpuSec = -1) never flags
    assert(!Bench.hostSuspect(60.0, -1.0, 0L, 32))
    // the threshold scales with the core count: 1 effective core of 4
    // is NOT suspect (cores/8 = 0.5), of 32 it is
    assert(!Bench.hostSuspect(10.0, 10.0, 0L, 4))
    assert(Bench.hostSuspect(10.0, 10.0, 0L, 32))
  }

  test("Bench.controlOk: the 2x + 0.1s gate") {
    assert(Bench.controlOk(0.2, 0.06))   // 50ms-class jitter floor
    assert(Bench.controlOk(7.2, 3.64))
    assert(!Bench.controlOk(7.5, 3.64))
  }
}
