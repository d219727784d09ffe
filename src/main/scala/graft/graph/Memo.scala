package graft.graph

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.concurrent.TrieMap

/** The one registry of graft's session-scoped shared builds: the TPC-H
  * property graph, the derived graphs and every frame that several
  * queries read (`SparkEntry.sharedBuilds` times them as `build:*`
  * rows).
  *
  *  - Key: (session, sf dir, build name, parameter values). A build
  *    that takes parameters passes them as `params`, so two parameter
  *    sets can never share an entry; a build whose inputs are fixed is
  *    keyed by its name alone.
  *  - The build body chooses how to materialize (`persist()`,
  *    `localCheckpoint()`, or nothing); the registry only stores what
  *    the body returns.
  *  - Nesting is allowed: a body may read other entries (minhash pairs
  *    read the signatures, which read the hashed shingles).
  *    `TrieMap.getOrElseUpdate` runs the body outside any lock; two
  *    threads racing on one missing key may both build, and one result
  *    is kept.
  *  - [[clear]] is the only release: it unpersists every Dataset an
  *    entry holds (tuples and `PropertyGraph`s are walked) and drops the
  *    entries with their session references.
  */
private[graft] object Memo {
  private final case class Key(session: SparkSession, dir: String,
                               name: String, params: Seq[Any])

  private val entries = TrieMap.empty[Key, Any]

  def apply[T](s: SparkSession, d: String, name: String, params: Any*)(build: => T): T =
    entries.getOrElseUpdate(Key(s, d, name, params), build).asInstanceOf[T]

  def clear(): Unit = {
    def release(v: Any): Unit = v match {
      case ds: Dataset[_] => try ds.unpersist() catch { case _: Throwable => () }
      case p: Product => p.productIterator.foreach(release)
      case _ => ()
    }
    entries.keySet.foreach(k => entries.remove(k).foreach(release))
  }
}
