package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry
import graft.algorithms.Tuning
import graft.cypher.{Cypher, Mutations, Parser}

/** The measured outcome of one op. Latency fields are seconds. */
final case class OpRecord(id: Int, pass: Int, name: String, family: String, ok: Boolean,
                          error: String, startMs: Double, constructS: Double, executeS: Double,
                          parseS: Double = 0.0, planNodes: Long = 0L) {
  def wallS: Double = constructS + executeS
}

/** Runs ops in one client thread and records each; in the traced run it
  * also tags every op's jobs and keeps the op's own spans. */
final class Client(spark: SparkSession, dir: String, oracle: Map[String, Digest.Expected],
                   in: Inputs, traced: Boolean) {
  private val sc = spark.sparkContext
  private val epochMs = System.currentTimeMillis().toDouble
  private val epochNs = System.nanoTime()
  val records = mutable.ArrayBuffer.empty[OpRecord]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  private def nowMs(ns: Long): Double = epochMs + (ns - epochNs) / 1e6

  /** Runs `op`: `construct` is the graft call up to the DataFrame it
    * returns (for a write, the whole checked write), `execute` collects
    * the rows. A throw or a rejected result marks the op failed. */
  def run(op: Op, pass: Int): OpRecord = {
    val id = nextId; nextId += 1
    val tag = BenchListener.OpTag + id
    if (traced) sc.addJobTag(tag)
    var parseS = 0.0
    var planNodes = 0L
    if (traced) op match {
      case Write(_, stmt, _) => parseS = seconds(Parser.parse(stmt))._2
      case ReadBack(_, text, _, _) => parseS = seconds(Parser.parse(text))._2
      case _ => ()
    }
    val t0 = System.nanoTime()
    var t1, t2 = t0
    val verdict: Option[String] = try {
      op match {
        case Query(name, _) =>
          val df = SparkEntry.queries(name)(spark, dir)
          t1 = System.nanoTime()
          val rows = df.collect()
          t2 = System.nanoTime()
          oracle.get(name) match {
            case Some(exp) => Digest.check(exp, df.columns.toIndexedSeq, rows)
            case None => Some("no oracle digest recorded")
          }
        case w: Write =>
          w.session.graph = Mutations.applyChecked(w.session.graph, w.stmt, in.constraints)
          t1 = System.nanoTime(); t2 = t1
          planNodes = planSize(w.session.graph.nodes) + planSize(w.session.graph.edges)
          None
        case rb: ReadBack =>
          val df = Cypher.query(rb.session.graph, rb.text)
          t1 = System.nanoTime()
          val rows = df.collect()
          t2 = System.nanoTime()
          checkReadBack(rb, rows)
      }
    } catch {
      case e: Throwable =>
        if (t1 == t0) t1 = System.nanoTime()
        if (t2 == t0) t2 = System.nanoTime()
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    } finally if (traced) sc.removeJobTag(tag)
    val rec = OpRecord(id, pass, op.name, op.family, verdict.isEmpty, verdict.orNull, nowMs(t0),
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, parseS, planNodes)
    if (traced) {
      spans += Span("op", nowMs(t0), nowMs(t2), id, op.name)
      spans += Span("op.construct", nowMs(t0), nowMs(t1), id)
      if (t2 > t1) spans += Span("op.execute", nowMs(t1), nowMs(t2), id)
    }
    records += rec
    rec
  }

  private def checkReadBack(rb: ReadBack, rows: Array[Row]): Option[String] = {
    val got = rows.map(r => r.getAs[Long]("id") ->
      ((r.getAs[String]("name"), Option(r.getAs[Any]("acctbal")).map(_.asInstanceOf[Double]), r.getAs[String]("seg")))).toMap
    val close = (a: Option[Double], b: Option[Double]) =>
      a.isDefined == b.isDefined && a.zip(b).forall { case (x, y) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)) }
    if (rows.length != rb.expected.size) Some(s"read back ${rows.length} rows, wrote ${rb.expected.size}")
    else rb.expected.collectFirst {
      case (id, (n, bal, seg)) if !got.get(id).exists { case (gn, gb, gs) => gn == n && close(gb, bal) && gs == seg } =>
        s"customer $id reads back ${got.get(id)}, expected ($n, $bal, $seg)"
    }
  }

  private def planSize(df: DataFrame): Long = df.queryExecution.logical.collect { case p => p }.size.toLong

  private def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  private val cores = 4
  /** Set-ups per run: setup_s is their median. */
  private val setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    // Exit explicitly: Spark's non-daemon threads would keep a JVM whose
    // main threw alive.
    val code = try {
      if (opts.contains("selftest")) SelfTest.run(opt("data"))
      else if (opts.contains("list-oracle")) { listOracle(opt("list-oracle")); 0 }
      else {
        run(Workloads.byName(opt("workload")), opt("seed").toLong, opt("seconds").toDouble,
          opt("trace") == "1", opt("data"), opt("oracle"), opt("out"), opt("source"))
        0
      }
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Writes the oracle SQL of every query the workloads check. */
  private def listOracle(out: String): Unit = {
    val sql = Workloads.oracleQueries.map(q => q -> SparkEntry.oracleSql.getOrElse(q,
      throw new IllegalStateException(s"$q has no oracleSql"))).toMap
    Files.writeString(Paths.get(out), mapper.writeValueAsString(sql))
  }

  private lazy val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def loadOracle(path: String): Map[String, Digest.Expected] = {
    val tree = mapper.readTree(Files.readString(Paths.get(path)))
    val it = tree.get("digests").fields()
    val out = Map.newBuilder[String, Digest.Expected]
    while (it.hasNext) {
      val e = it.next()
      out += e.getKey -> Digest.Expected(e.getValue.get("rows").asLong, e.getValue.get("sha256").asText)
    }
    out.result()
  }

  private def run(w: Workload, seed: Long, minSeconds: Double, traced: Boolean, dir: String,
                  oraclePath: String, out: String, source: String): Unit = {
    val processStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val oracle = loadOracle(oraclePath)
    val spark = session()
    val sessionS = (System.currentTimeMillis() - processStartMs) / 1e3
    val listener = new BenchListener(spark.sparkContext, traced)
    val counter = if (traced) Some(new ActionCounter(listener)) else None
    counter.foreach(spark.listenerManager.register)
    val body = () => {
      val threshold = Tuning.broadcastThreshold
      w.threshold.foreach(t => require(threshold == t,
        s"${w.name} needs broadcast threshold $t but graft sees $threshold"))
      val in = w.setUp(spark, dir)
      val firstSetupS = (System.currentTimeMillis() - processStartMs) / 1e3
      val setupCachedMb = cachedMb(spark)
      val rng = new Random(seed)
      val client = new Client(spark, dir, oracle, in, traced)
      w.warmUp(in).foreach(client.run(_, -1))
      listener.drain()
      val before = listener.snapshot()
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      var pass = 0
      while ((System.nanoTime() - t0) / 1e9 < minSeconds) {
        w.pass(rng, in).foreach(client.run(_, pass))
        pass += 1
      }
      val timedS = (System.nanoTime() - t0) / 1e9
      val driverGcS = (gcMs() - gc0) / 1e3
      listener.drain()
      val totals = listener.snapshot().minus(before)
      val endCachedMb = settledCachedMb(spark)
      // Later set-ups start from cleared memos, so each repeats the work
      // of the first except for starting the JVM and the session.
      val rebuilds = (2 to setups).map { _ =>
        SparkEntry.clearCaches()
        val s0 = System.nanoTime()
        val again = w.setUp(spark, dir)
        ((System.nanoTime() - s0) / 1e9, again.graphBuildS)
      }
      Map(
        "stamp" -> stamp(spark, w, seed, dir, threshold, traced, source),
        "session_s" -> sessionS,
        "setup_s" -> (firstSetupS +: rebuilds.map(_._1)),
        "graph_build_s" -> (in.graphBuildS +: rebuilds.map(_._2)),
        "setup_cached_mb" -> setupCachedMb,
        "cached_mb" -> endCachedMb,
        "timed_s" -> timedS,
        "passes" -> pass,
        "driver_gc_s" -> driverGcS,
        "cores" -> cores,
        "tasks" -> totals.toMap,
        "ops" -> client.records.map(r => Map(
          "id" -> r.id, "pass" -> r.pass, "name" -> r.name, "family" -> r.family, "ok" -> r.ok,
          "error" -> r.error, "start_ms" -> r.startMs, "construct_s" -> r.constructS,
          "execute_s" -> r.executeS, "wall_s" -> r.wallS, "parse_s" -> r.parseS,
          "plan_nodes" -> r.planNodes)),
        "trace" -> (if (!traced) Map.empty else Map(
          "spans" -> (client.spans ++ listener.spans ++ counter.get.planSpans).map(s => Map(
            "name" -> s.name, "start" -> s.start, "end" -> s.end, "op" -> s.op,
            "detail" -> s.detail)),
          "actions" -> counter.get.actions.map { case (op, f) => Map("op" -> op, "name" -> f) },
          "stages" -> listener.stagesPerOp.toMap.map { case (k, v) => k.toString -> v },
          "tasks" -> listener.perOp.toMap.map { case (k, v) => k.toString -> v.toMap })))
    }
    val result = w.threshold match {
      case Some(t) => Tuning.withBroadcastThreshold(t)(body())
      case None => body()
    }
    Files.writeString(Paths.get(out), mapper.writeValueAsString(result))
    spark.stop()
  }

  /** Storage held once the context cleaner has dropped the blocks of
    * checkpoints nothing references any more (a kernel's intermediate
    * rounds), so what remains is what memos and shared builds pin. */
  private def settledCachedMb(spark: SparkSession): Double = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1.0
    var steady = 0
    while (steady < 3 && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
      val now = cachedMb(spark)
      if (now == last) steady += 1 else { steady = 0; last = now }
    }
    last
  }

  private def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  private def stamp(spark: SparkSession, w: Workload, seed: Long, dir: String, threshold: Long,
                    traced: Boolean, source: String): Map[String, Any] = Map(
    "workload" -> w.name, "seed" -> seed, "traced" -> traced,
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "sf_dir" -> dir,
    "broadcast_threshold" -> threshold,
    "source" -> source)
}
