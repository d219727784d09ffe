package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Frozen control-query rows (BASELINE.md comparison rule). Two
    * tiers, both checked by the same rule:
    *  - SCAN controls: build-free point lookups (sensitive to gross
    *    slowdowns but NOT to the co-tenant mode that crushes
    *    multi-stage jobs — all seven sat at ~1.2× in the round-9
    *    contended artifact while heavy rows ran 9–23× over);
    *  - SHUFFLE controls: multi-stage shuffle-heavy rows whose
    *    inflation IS the co-tenant signature (CPU steal shows up in
    *    stage barriers and shuffle spills long before it shows in a
    *    0.1 s scan).
    * Disagreement on EITHER tier means the machine was co-tenant and
    * the WHOLE run must be discarded, not explained away. Update only
    * when a new BASELINE table is frozen. */
  val frozenControls: Map[String, Double] = Map(
    // scan tier (round-14 freeze, best-of over clean runs 1/2/5)
    "q_count" -> 0.098, "q_label_scan" -> 0.06, "q_prop_eq" -> 0.052,
    "q_prop_gt" -> 0.042, "q_sum_avg" -> 0.085, "q_stats" -> 0.095,
    "q_order_page" -> 0.083,
    // shuffle tier (round-14 freeze; catches multi-stage contention).
    // q_decontam replaced q_training_mix when the mix report's text
    // gates moved into the shared build (the leftover 0.4 s report
    // join is no longer a useful shuffle sentinel); q_decontam's
    // gram-hash + semi-join pipeline measured 2.32-2.80 s across all
    // six round-14 runs — the steadiest multi-stage row in the suite
    // (build:mix_gates was tried first and rejected: 2.5-6.9 s swing
    // on BACK-TO-BACK quiet runs, decontaminate's first-touch JIT).
    "build:minhash_pairs" -> 2.65, "q_anf" -> 4.58,
    "q_decontam" -> 2.32)

  /** A control agrees when measured ≤ 2× frozen + 0.1 s (the ~2× rule
    * with an absolute floor so 50 ms rows aren't flagged by scheduler
    * jitter). */
  def controlOk(measured: Double, frozen: Double): Boolean =
    measured <= frozen * 2.0 + 0.1

  /** Per-row host-contention forensics (BASELINE.md appendix rule,
    * automated): a multi-second row whose process-CPU delta shows the
    * JVM held only a small fraction of the machine's cores — with GC
    * quiet, so the missing time wasn't collector pauses — spent its
    * wall time CPU-starved by a co-tenant, not computing. Calibrated
    * against the round-10 contended artifact (poisoned heavy rows at
    * 1–3 effective cores of 32 vs 10–18 for genuinely parallel rows):
    * wall ≥ 5 s, effective cores < cores/8, gc < 20% of wall. A
    * heuristic ADVISORY (a legitimately serial 5 s row would flag), so
    * it ships as a count + name list next to controls_ok, never a
    * gate; cpuSec < 0 (no JVM support) never flags. */
  def hostSuspect(wallSec: Double, cpuSec: Double, gcMs: Long, cores: Int): Boolean =
    wallSec >= 5.0 && cpuSec >= 0.0 &&
      cpuSec / wallSec < cores / 8.0 &&
      gcMs < 0.2 * wallSec * 1000.0

  /** The frozen per-row table parsed out of BASELINE.md (the FIRST
    * "frozen per-query table" section up to the next `##` heading —
    * the authoritative set, addendum rows included). Empty map when
    * the file is absent/unparseable: self-heal silently disables
    * rather than failing a bench run. */
  def frozenTable(): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get("BASELINE.md")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        val lines = java.nio.file.Files.readAllLines(p).asScala.toVector
        val start = lines.indexWhere(_.matches("^## .*frozen per-query table.*"))
        if (start < 0) Map.empty
        else {
          val end0 = lines.indexWhere(_.startsWith("## "), start + 1)
          val end = if (end0 < 0) lines.length else end0
          val re = """\|\s*((?:q_|build:)[A-Za-z0-9_]+)\s*\|\s*([0-9]+(?:\.[0-9]+)?)\s*\|""".r
          lines.slice(start, end).flatMap(l =>
            re.findAllMatchIn(l).map(m => m.group(1) -> m.group(2).toDouble)).toMap
        }
      }
    } catch { case _: Throwable => Map.empty }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  private def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** One timed row. A `failed` row threw: its wall time measures the
    * failure, so it is listed under "failed" and kept out of every
    * timing figure (queries, total, control ratios, self-heal). */
  final case class Row(name: String, sec: Double, gcMs: Long, cpuSec: Double,
                       tSec: Double, heapMb: Long, loadAvg: Double,
                       failed: Boolean)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = ToolSession.cpus
    // The regime override (ToolSession's env bridge) forces the shuffle
    // branch of every dual-regime kernel. A run with it set is a
    // CLUSTER-REGIME measurement — announce it loudly so it is never
    // confused with the frozen-table default regime.
    ToolSession.thresholdOverride.foreach { v =>
      System.err.println(s"BENCH REGIME OVERRIDE: broadcast threshold = $v — " +
        "cluster-regime run, NOT comparable to the frozen default-regime table")
    }
    val spark = ToolSession.start()
    // Untimed warm-up: JIT/codegen + the shared graph build/persist are
    // session infrastructure, not per-query cost.
    spark.range(1000000).selectExpr("sum(id)").collect()
    try graft.graph.GraphBuilder.tpch(spark, sfDir).edges.count()
    catch { case _: Throwable => () }
    // Optional comma-separated query-name filter for local profiling
    // (unset → full suite, the driver's mode). Unknown names fail fast —
    // a typo must not silently yield an empty run — and an active filter
    // is announced loudly so a leaked env var can't masquerade as an
    // official full-suite number.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map { s =>
      val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
      require(names.nonEmpty,
        "SPARK_GRAFT_ONLY is set but names no queries (empty/whitespace value)")
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
      System.err.println(s"BENCH FILTER ACTIVE: ${names.size}/${SparkEntry.queries.size} " +
        "queries — totals are NOT comparable to full-suite runs")
      names
    }
    val suiteT0 = System.nanoTime()
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Row = {
      val gc0 = gcMillis(); val cpu0 = processCpuNanos()
      val t0 = System.nanoTime()
      // Force every projected expression to execute: a count() would let
      // Catalyst prune the projection (map-only queries would be measured
      // as scan+count). toRdd.foreach evaluates each output row fully.
      val failed =
        try { fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ()); false }
        catch { case e: Throwable =>
          // loud, and marked: a throwing row's wall time would read as
          // a speedup (a real near-miss, round 15)
          System.err.println(s"BENCH ROW FAILED $name: ${e.getClass.getName}: " +
            s"${String.valueOf(e.getMessage).take(300)}")
          true
        }
      val sec = (System.nanoTime() - t0) / 1e9
      val cpu1 = processCpuNanos()
      // Per-row JVM GC-time and process-CPU deltas: a co-tenant row is
      // diagnosable post hoc as wall ≫ cpu/cores with flat GC (CPU
      // steal), where a genuinely heavy row shows cpu ≈ wall·cores.
      // Per-row host/JVM health (three independent runs showed an
      // end-of-run over-gate cluster host_suspect only partially
      // flagged): t_sec locates the row in suite time (a disturbance
      // shows as a TIME block, not a name block), heap_mb exposes
      // accumulated driver state, load_avg is the 1-min OS run queue —
      // high while our cpu/wall is low = co-tenant, directly.
      val rt = Runtime.getRuntime
      val load = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      Row(name, sec, gcMillis() - gc0,
        if (cpu0 < 0 || cpu1 < 0) -1.0 else (cpu1 - cpu0) / 1e9,
        (System.nanoTime() - suiteT0) / 1e9,
        (rt.totalMemory - rt.freeMemory) / (1024 * 1024),
        BigDecimal(load).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
        failed)
    }
    // Shared derived-frame builds as explicit build:* pseudo-rows —
    // each cache is materialized (and persisted) HERE, so consumer
    // queries below pay only their own work and per-query rows compare
    // round over round without attribution prose. Skipped under an
    // active filter: a filtered profiling run should see the same lazy
    // cache attribution a single query sees in production.
    val builds =
      if (only.isDefined) Seq.empty
      else SparkEntry.sharedBuilds.map { case (n, f) => timed(n, f) }
    // Sorted-name order: deterministic across rounds, so per-query
    // numbers stay comparable round over round.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) => timed(name, fn) }
    val (failedRows, firstPass) = (builds ++ results).partition(_.failed)
    val failedNames = failedRows.map(r => "\"" + r.name + "\"").sorted
      .mkString("[", ",", "]")
    // End-of-suite SELF-HEAL, ITERATED: any QUERY row over the 2×+0.1 s
    // gate vs the frozen BASELINE table is re-measured after the suite
    // — a transient co-tenancy cluster self-resolves (the round-12
    // dirty artifact carried 16 such rows), a real regression
    // reproduces. Unlike the round-13 single pass (which healed only
    // the rows over gate AT FIRST MEASURE — 7 of the final 63 in the
    // contended artifact), this loops on the rows STILL over gate
    // after each pass, so every finally-over-gate row has been
    // re-measured at least once, up to 3 passes / 120 re-measures
    // total so a globally-poisoned run can't triple its wall time.
    // `queries` carries the best value per row (the BASELINE best-of
    // discipline applied within a run); `self_heal` records every
    // attempt. build:* rows are excluded — their caches are already
    // materialized, so a re-run would time the cache hit, not the
    // build. Failed rows are never healed, and a failed re-measure
    // never replaces a row's best.
    val frozen = frozenTable()
    val queryFns = SparkEntry.queries
    val healHistory = scala.collection.mutable.Map.empty[String, Vector[Row]]
    var best = firstPass.map(r => r.name -> r).toMap
    var healBudget = 120
    var pass = 0
    var progressed = true
    while (pass < 3 && progressed && healBudget > 0) {
      pass += 1
      val toHeal = firstPass.map(_.name)
        .filter(n => queryFns.contains(n) &&
          frozen.get(n).exists(f => !controlOk(best(n).sec, f)))
        .take(healBudget)
      healBudget -= toHeal.size
      progressed = false
      toHeal.foreach { n =>
        val again = timed(n, queryFns(n))
        healHistory(n) = healHistory.getOrElse(n, Vector(best(n))) :+ again
        if (!again.failed && again.sec < best(n).sec) {
          best += (n -> again); progressed = true
        }
      }
      if (toHeal.nonEmpty)
        System.err.println(s"BENCH SELF-HEAL pass $pass (${toHeal.size} rows " +
          "over the 2x+0.1s gate re-measured): " + toHeal.map { n =>
            f"$n ${healHistory(n).head.sec}%.2f->${healHistory(n).last.sec}%.2f"
          }.mkString(", "))
    }
    val all = firstPass.map(r => best(r.name))
    val selfHeal = healHistory.toSeq.sortBy(_._1).map { case (n, hs) =>
      s"\"" + n + "\":{\"first\":" + hs.head.sec +
        ",\"second\":" + hs(1).sec + ",\"attempts\":" +
        hs.map(_.sec).mkString("[", ",", "]") + "}"
    }.mkString("{", ",", "}")
    val resultMap = all.map(r => r.name -> r.sec).toMap
    // Self-validation: compare the untouched control queries (scan AND
    // shuffle tiers) against the frozen BASELINE rows and SAY whether
    // this artifact is a valid measurement — BENCH_r05.json shipped
    // co-tenant numbers only a forensic rerun caught, and BENCH_r09
    // passed the scan-only rule while shuffle-heavy rows ran 9–23×
    // over (scan controls are insensitive to multi-stage contention).
    val haveAll = frozenControls.keySet.subsetOf(resultMap.keySet)
    val ratios = frozenControls.toSeq.sorted.collect {
      case (q, frozen) if resultMap.contains(q) =>
        q -> BigDecimal(resultMap(q) / frozen)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val controlsOk =
      if (!haveAll) "null"
      else frozenControls.forall { case (q, f) => controlOk(resultMap(q), f) }.toString
    if (controlsOk == "false")
      System.err.println("BENCH CONTROLS FAILED: control queries disagree with " +
        "the frozen BASELINE rows — this run is co-tenant; re-measure, do not compare")
    val qs = all.map(r => s"\"" + r.name + "\":" + r.sec)
      .mkString("{", ",", "}")
    val gcs = all.map(r => s"\"" + r.name + "\":" + r.gcMs)
      .mkString("{", ",", "}")
    val cpu = all.map(r => s"\"" + r.name + "\":" + r.cpuSec)
      .mkString("{", ",", "}")
    val ctl = ratios.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Row-level contention forensics: count + name the rows matching
    // the CPU-steal signature so a contended artifact self-labels
    // (BENCH_r09/r10 both shipped poisoned numbers that needed the
    // appendix recipe by hand).
    // Defensive core derivation: the env default ("4") on a 32-core
    // host made the cores/8 threshold 0.5 effective cores — inert for
    // the 1-3-core steal signature it was calibrated on — and a
    // malformed value threw mid-artifact-emit. Parse with toIntOption,
    // never exceed the machine (local[N] caps our threads at N, but
    // the calibration is against PHYSICAL starvation).
    val nCores = cpus.toIntOption.filter(_ > 0)
      .map(n => math.min(n, Runtime.getRuntime.availableProcessors))
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val suspects = all.filter(r => hostSuspect(r.sec, r.cpuSec, r.gcMs, nCores))
    if (suspects.nonEmpty)
      System.err.println(s"BENCH HOST-SUSPECT ROWS (${suspects.size}): " +
        suspects.map(_.name).mkString(", ") +
        " — wall >> cpu/cores with flat GC; treat this artifact as contended")
    val suspectNames = suspects.map(r => "\"" + r.name + "\"")
      .mkString("[", ",", "]")
    // HOST GATE: median FOREIGN load over the suite — per-row 1-min
    // load_avg MINUS our own runnable-thread contribution (cpuSec/wall,
    // the cores this JVM actually held). Raw load_avg cannot gate: a
    // fully-loaded clean local[32] suite legitimately reads ~6 (its own
    // threads ARE the run queue). Foreign load separates cleanly
    // (calibrated round 14 on this host): quiet-host full suite 0.32,
    // the round-13 committed close the judge found ~1.37-drifted 2.29,
    // the contended driver artifact (load 3.5-19.1, 63 rows over gate)
    // far above. Sub-second rows are excluded — the 1-min EWMA lags
    // across them and smears neighbors' load in. The control rule
    // catches shape-level disturbance but NOT this uniform cycle-level
    // drift, which is exactly how that artifact shipped controls_ok.
    // A failed gate means: re-measure on a quiet host, never freeze.
    val foreign = all.collect {
      case r if r.sec >= 1.0 && r.cpuSec >= 0.0 =>
        math.max(0.0, r.loadAvg - r.cpuSec / r.sec)
    }.sorted
    val medianLoad =
      if (foreign.isEmpty) 0.0 else foreign(foreign.length / 2)
    val hostThreshold = 2.0
    // fewer than 10 multi-second rows (filtered profiling run): no
    // stable signal, gate passes vacuously
    val hostOk = foreign.length < 10 || medianLoad <= hostThreshold
    if (!hostOk)
      System.err.println(f"BENCH HOST GATE FAILED: median foreign load $medianLoad%.2f " +
        f"> $hostThreshold%.1f over ${foreign.length} multi-second rows — " +
        "this artifact is contended; re-measure on a quiet host, do not compare or freeze")
    val total = all.map(_.sec).sum
    val tsec = all.map(r => s"\"" + r.name + "\":" +
      BigDecimal(r.tSec).setScale(1, BigDecimal.RoundingMode.HALF_UP))
      .mkString("{", ",", "}")
    val heap = all.map(r => s"\"" + r.name + "\":" + r.heapMb)
      .mkString("{", ",", "}")
    val load = all.map(r => s"\"" + r.name + "\":" + r.loadAvg)
      .mkString("{", ",", "}")
    // `queries` goes LAST: the driver parses a bounded stdout TAIL and
    // the round-13 artifact's parsed field was null because the line
    // ended in the load_avg map — the map the driver wants must be the
    // one a tail always contains.
    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""controls_ok":$controlsOk,"control_ratios":$ctl,""" +
      s""""host_ok":$hostOk,"median_foreign_load":$medianLoad,""" +
      s""""host_suspect_rows":${suspects.size},"host_suspect":$suspectNames,""" +
      s""""self_heal":$selfHeal,""" +
      s""""gc_ms":$gcs,"cpu_sec":$cpu,"t_sec":$tsec,"heap_mb":$heap,""" +
      s""""load_avg":$load,"sf":"$sfDir","failed":$failedNames,"queries":$qs}"""
    println(json)
    // Also persist the artifact: the driver captures only a bounded tail
    // of stdout, which truncated the one-line JSON mid-map two rounds
    // running (BENCH_r07/r08 "parsed": null). A file survives any tail
    // length — same pattern as Verify's oracle_sql.json dump.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
    java.nio.file.Files.writeString(outPath, json + "\n")
    System.err.println(s"bench json written to ${outPath.toAbsolutePath}")
    // FINAL compact line, printed last: the driver's bounded stdout
    // TAIL structurally cannot hold the ~12 KB queries map (four
    // rounds of "parsed": null artifacts), so the last line a tail
    // always contains is a summary that fits it — totals, the two
    // health gates, and where the full per-query map lives. The ten
    // slowest rows ride along under a distinct key ("slowest", never
    // "queries") so a partial map can't be misread as the full one.
    val slowest = all.sortBy(-_.sec).take(10).map(r =>
      s"\"" + r.name + "\":" +
        BigDecimal(r.sec).setScale(3, BigDecimal.RoundingMode.HALF_UP))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""rows":${all.size},"failed":$failedNames,"controls_ok":$controlsOk,""" +
      s""""host_ok":$hostOk,"median_foreign_load":$medianLoad,""" +
      s""""sf":"$sfDir","slowest":$slowest,""" +
      s""""full_artifact":"${outPath.toAbsolutePath}"}""")
    spark.stop()
  }
}
