package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The engine's declarative core, replacing the reference's
  * `FeatureDefinition`/`Feature`/task-graph triad (svoe
  * `feature_definition.py`, `feature_tree.py`, `builder.py`) with one
  * abstraction: a named transform over named dependency frames. The
  * "physical plan" is just the composed lazy DataFrame — Catalyst
  * plans it; there is no hand-rolled scheduler, object cache, or block
  * plumbing to port.
  */
trait FeatureDef {
  def name: String

  /** Build this feature's frame from its dependencies' frames.
    * Called once per distinct (params, deps) instance — batch and
    * streaming inputs both work (Kappa parity). */
  def transform(deps: Seq[DataFrame], params: Map[String, String]): DataFrame
}

/** A parameterized feature-tree node. `key` is a deterministic content
  * hash of (definition, params, dep keys) — the identity used for
  * shared-subtree dedup and feature-store memoization (svoe
  * `feature_tree.py:76-89`). */
final case class Feature(
    defn: FeatureDef,
    params: Map[String, String] = Map.empty,
    deps: Seq[Feature] = Nil) {

  lazy val key: String = {
    val canonical = new StringBuilder(defn.name)
    params.toSeq.sortBy(_._1).foreach { case (k, v) =>
      canonical.append('|').append(k).append('=').append(v)
    }
    deps.foreach(d => canonical.append('#').append(d.key))
    Feature.digest16(canonical.toString)
  }
}

object Feature {
  /** 16-hex-char MD5 digest — the one content-key hash everywhere. */
  def digest16(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
}

/** A leaf bound to an externally-supplied source frame. */
final case class SourceDef(name: String) extends FeatureDef {
  override def transform(deps: Seq[DataFrame], params: Map[String, String]): DataFrame =
    throw new IllegalStateException(s"source $name must be bound via Forest.build")
}

object Forest {

  /** Materialize a feature forest into one frame per requested root.
    *
    * Shared subtrees (equal content key) are built once (svoe
    * `feature_tree.py:176-179` dedup); any node consumed by more than
    * one parent is `.persist()`ed — the same refcount analysis the
    * reference implements with its Ray object cache
    * (`tasks.py:32-51`), expressed as a cache hint Catalyst honors.
    */
  def build(
      roots: Seq[Feature],
      sources: Map[String, DataFrame]): Map[Feature, DataFrame] = {
    val fanout = scala.collection.mutable.Map.empty[String, Int]
    def countFanout(f: Feature): Unit = {
      fanout(f.key) = fanout.getOrElse(f.key, 0) + 1
      if (fanout(f.key) == 1) f.deps.foreach(countFanout)
    }
    roots.foreach(countFanout)

    val built = scala.collection.mutable.Map.empty[String, DataFrame]
    def buildNode(f: Feature): DataFrame = built.getOrElseUpdate(f.key, {
      val df = f.defn match {
        case SourceDef(n) =>
          sources.getOrElse(n,
            throw new IllegalArgumentException(s"unbound source: $n"))
        case d => d.transform(f.deps.map(buildNode), f.params)
      }
      if (fanout(f.key) > 1 && !f.defn.isInstanceOf[SourceDef])
        df.persist(StorageLevel.MEMORY_AND_DISK)
      else df
    })
    roots.map(r => r -> buildNode(r)).toMap
  }

  /** Feature-store memoization (svoe `builder.py:83-97,129-150`,
    * SURVEY §4.1 "materialized-feature reuse"): before computing a
    * node, consult the BlockCatalog under (definition = defn name,
    * key = the node's content key); on a hit the subplan becomes a
    * catalog scan, on a miss the computed frame is stored for the next
    * run. Identity is the content key — exact, no ±0.15s interval fuzz
    * (the reference needed it only because of its float timestamps).
    *
    * `tsUs` names the epoch-micros column every materialized feature
    * frame carries (used for day partitioning + range scans).
    *
    * IMPORTANT: a `SourceDef` leaf's content key covers only its NAME —
    * the cache cannot see the source data itself. When the data behind
    * a source name can change between runs, pass a `sourceVersions`
    * token (e.g. an ingest batch id or the source's content hash); it
    * is mixed into every memoization key, so new data gets a fresh
    * compute instead of a stale cache hit.
    */
  def buildMemoized(
      roots: Seq[Feature],
      sources: Map[String, DataFrame],
      catalog: graft.sources.BlockCatalog,
      tsUs: String = "ts_us",
      sourceVersions: Map[String, String] = Map.empty): Map[Feature, DataFrame] = {
    import org.apache.spark.sql.functions.col
    val versionSuffix =
      if (sourceVersions.isEmpty) ""
      else sourceVersions.toSeq.sorted.map { case (k, v) => s"$k=$v" }
        .mkString("@", ",", "")
    def memoKey(f: Feature): String =
      if (versionSuffix.isEmpty) f.key
      else Feature.digest16(f.key + versionSuffix)
    val built = scala.collection.mutable.Map.empty[String, DataFrame]
    def buildNode(f: Feature): DataFrame = built.getOrElseUpdate(f.key, {
      f.defn match {
        case SourceDef(n) =>
          sources.getOrElse(n,
            throw new IllegalArgumentException(s"unbound source: $n"))
        case d =>
          val mk = memoKey(f)
          val cached = catalog.meta
          val hit = cached.columns.contains("key") && !cached
            .filter(col("definition") === d.name && col("key") === mk)
            .isEmpty
          if (!hit) {
            val df = d.transform(f.deps.map(buildNode), f.params)
            catalog.write(df, d.name, mk, tsUs)
          }
          catalog.scanAll(d.name, mk).drop("day")
      }
    })
    roots.map(r => r -> buildNode(r)).toMap
  }
}
