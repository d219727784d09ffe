package graft.algorithms

import org.apache.spark.sql.DataFrame

/** Driver-side plumbing shared by the under-gate regime of the
  * dual-regime kernels (SCC Tarjan, core-number BZ peel, PageRank,
  * k-core peel, triangle counts, CC union-find, A*).
  *
  * The collect path packs rows into primitive arrays PER PARTITION on
  * the executors, so one collect job fetches ≤ nPartitions array
  * bundles and the driver-heap cost is ~8 B per long — a plain
  * collect() of 4M GenericRows (the gate maximum) would pin hundreds
  * of MB of Row objects (ADVICE r5). toLocalIterator was measured
  * worse: its one-job-per-partition fetch added ~1.5 s of scheduler
  * floor at 32 partitions.
  */
private[graft] object LocalGraph {

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
  final class Index(sizeHint: Int) {
    private val idOf = new java.util.HashMap[Long, Integer](sizeHint * 2)
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    def ix(v: Long): Int = {
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
