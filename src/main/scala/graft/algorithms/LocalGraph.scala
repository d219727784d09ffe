package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The one dense graph every under-gate driver twin of a dual-regime
  * kernel reads: [[load]] collects an optional id frame and an edge
  * frame and returns a [[Dense]] graph over dense int indices.
  *
  * What `load` returns: the packed id rows (in collect order, which
  * twins use to order their output), `nIds` distinct ids, `n` dense
  * indices, row-aligned dense `src`/`dst` arrays with the edge frame's
  * extra long and double columns, `id(i)` / `ix(v)` to map between ids
  * and indices, and a lazily built CSR.
  *
  * Interning order: the ids in packed row order, then every `src` in
  * edge order, then every `dst`. Twins sum floats in dense-index order,
  * so this order is part of their output.
  *
  * Presence rule (edges that reach ids outside the id frame):
  *  - [[Extend]]: such endpoints get dense indices `nIds until n`;
  *  - [[Within]]: such edges are dropped, so `n == nIds`.
  * Without an id frame the endpoints are the nodes and `nIds == n`.
  *
  * Precondition: ids are the node table's key. A repeated id is
  * interned once, so `nIds` counts distinct ids and every index below
  * it is a node; the distributed kernels do not dedupe repeated ids.
  *
  * The collects pack rows into primitive arrays PER PARTITION on the
  * executors, so one collect job fetches ≤ nPartitions array bundles
  * and the driver-heap cost is ~8 B per long — a plain collect() of 4M
  * GenericRows (the gate maximum) would pin hundreds of MB of Row
  * objects (ADVICE r5). toLocalIterator was measured worse: its
  * one-job-per-partition fetch added ~1.5 s of scheduler floor at 32
  * partitions.
  */
private[graft] object LocalGraph {

  sealed trait Presence
  /** Edge endpoints outside the ids get dense indices after them. */
  case object Extend extends Presence
  /** Edges with an endpoint outside the ids are dropped. */
  case object Within extends Presence

  /** A graph over dense indices `0 until n`; indices below `nIds` are
    * the ids. `longs` and `doubles` are the edge frame's extra columns,
    * row-aligned with `src`/`dst`. */
  final class Dense private[LocalGraph] (
      val ids: Array[Long], index: Index, val nIds: Int,
      val src: Array[Int], val dst: Array[Int],
      val longs: Array[Array[Long]], val doubles: Array[Array[Double]]) {
    val n: Int = index.size
    def id(i: Int): Long = index.id(i)
    /** Dense index of `v`, or -1 when `v` is not in the graph. */
    def ix(v: Long): Int = index.get(v)
    /** Out-adjacency (offsets, neighbors), neighbors in edge order. */
    lazy val csr: (Array[Int], Array[Int]) = LocalGraph.csr(src, dst, n)
  }

  /** One packed collect of `ids` (column `id`), one of `edges` — its
    * first two columns are src and dst, then `longs` more long columns,
    * then double columns — interned into a [[Dense]] graph under the
    * presence rule. */
  def load(ids: Option[DataFrame], edges: DataFrame, presence: Presence,
           longs: Int = 0): Dense = {
    require(presence == Extend || ids.isDefined, "Within needs an id frame")
    val idArr = ids.fold(Array.emptyLongArray)(f =>
      packed(f.select(col("id").cast("long")), 1)(0))
    val nl = 2 + longs
    val nc = edges.columns.length
    val e = edges.toDF((0 until nc).map(c => s"c$c"): _*)
    val (ls0, ds0) = packedLD(e.select((0 until nc).map(c =>
      col(s"c$c").cast(if (c < nl) "long" else "double")): _*), nl, nc - nl)
    val index = new Index(idArr.length + ls0(0).length)
    idArr.foreach(index.intern)
    val nIds = index.size
    val (ls, ds) = presence match {
      case Extend => (ls0, ds0)
      case Within =>
        val keep = ls0(0).indices.filter(k =>
          index.get(ls0(0)(k)) >= 0 && index.get(ls0(1)(k)) >= 0).toArray
        (ls0.map(a => keep.map(a)), ds0.map(a => keep.map(a)))
    }
    val src = ls(0).map(index.intern); val dst = ls(1).map(index.intern)
    new Dense(idArr, index, if (ids.isDefined) nIds else index.size,
      src, dst, ls.drop(2), ds)
  }

  /** Collect `cols` LONG columns of `df` as column-major primitive
    * arrays, one collect job. */
  def packed(df: DataFrame, cols: Int): Array[Array[Long]] =
    packedLD(df, cols, 0)._1

  /** Collect `longCols` LONG columns followed by `dblCols` DOUBLE
    * columns of `df` as column-major primitive arrays, one collect job
    * (so the columns stay row-aligned). */
  def packedLD(df: DataFrame, longCols: Int,
               dblCols: Int): (Array[Array[Long]], Array[Array[Double]]) = {
    val parts = df.rdd.mapPartitions { it =>
      val lbs = Array.fill(longCols)(Array.newBuilder[Long])
      val dbs = Array.fill(dblCols)(Array.newBuilder[Double])
      it.foreach { r =>
        var c = 0; while (c < longCols) { lbs(c) += r.getLong(c); c += 1 }
        c = 0; while (c < dblCols) { dbs(c) += r.getDouble(longCols + c); c += 1 }
      }
      Iterator.single((lbs.map(_.result()), dbs.map(_.result())))
    }.collect() // per-partition, per-column primitive arrays
    (Array.tabulate(longCols)(c => parts.flatMap(_._1(c))),
      Array.tabulate(dblCols)(c => parts.flatMap(_._2(c))))
  }

  /** Compacting long-id → dense-int index; remembers insertion order so
    * dense indices map back to original ids. */
  private final class Index(sizeHint: Int) {
    private val idOf = new java.util.HashMap[Long, Integer](sizeHint * 2)
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    def intern(v: Long): Int = {
      val got = idOf.get(v)
      if (got ne null) got.intValue()
      else { val i = buf.length; idOf.put(v, i); buf += v; i }
    }
    /** Dense index of `v`, or -1 when `v` was never inserted. */
    def get(v: Long): Int = { val g = idOf.get(v); if (g eq null) -1 else g.intValue() }
    def id(i: Int): Long = buf(i)
    def size: Int = buf.length
  }

  /** CSR adjacency over dense indices: (offsets, neighbors). */
  def csr(srcIx: Array[Int], dstIx: Array[Int], n: Int): (Array[Int], Array[Int]) = {
    val m = srcIx.length
    val off = new Array[Int](n + 1)
    var k = 0; while (k < m) { off(srcIx(k) + 1) += 1; k += 1 }
    var i = 0; while (i < n) { off(i + 1) += off(i); i += 1 }
    val cur = off.clone(); val nbr = new Array[Int](m)
    k = 0; while (k < m) { val s = srcIx(k); nbr(cur(s)) = dstIx(k); cur(s) += 1; k += 1 }
    (off, nbr)
  }
}
