package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * Each table is a single parquet file under `dir`. At cluster scale these
  * would be partitioned directories; `spark.read.parquet` handles both, and
  * Catalyst pushes filters/projections into the scan either way.
  */
object Tables {
  /** Per-path schema CATALOG (r17, guide §6 "always pass an explicit
    * schema at scale"): `spark.read.parquet` without a schema pays a
    * footer-read inference pass on EVERY call — measured at ~100-120 ms
    * per call on this host, i.e. the bulk of the per-query fixed cost
    * for the ~95 sub-second queries (a TPC-H query reads up to 7
    * tables). The first read of a path infers once and the schema is
    * served from this map afterwards — exactly what a table catalog
    * (metastore/Iceberg) provides in production. METADATA only: every
    * query still scans the parquet data itself on every invocation
    * (nothing row-level is memoized), and the cache key is the path, so
    * a regenerated corpus under a new dir never sees a stale schema.
    */
  private val schemaCatalog =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Resolved-relation catalog: the DataFrame returned by a read of a
    * table path is a pure logical plan (LogicalRelation over a file
    * index) — resolving it anew per call re-runs data-source resolution
    * for identical metadata (~20-40 ms). Caching the frame per
    * (session, path) is what `spark.table()` does through the catalog.
    * The frames hold NO data and are never `.cache()`d — every action
    * over them scans parquet. [[graft.sources.SessionCache]] keys by
    * live session, so a stopped session's frames are never served to a
    * new one; a STALENESS STAMP (path mtime + length, one
    * FileSystem.getFileStatus per load) invalidates the entry — and the
    * schema — when the path's contents change, so a continuously-
    * ingested table (append/overwrite of the same dir) never serves a
    * stale file listing (SimilaritySpec's geometry-drift loop pins
    * this).
    */
  private val relationCatalog =
    new graft.sources.SessionCache[(Long, DataFrame)]()

  private def stampOf(spark: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p)
      st.getModificationTime ^ (st.getLen * 1000003L)
    } catch { case scala.util.control.NonFatal(_) => -1L }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val cur = stampOf(spark, path)
    def build: (Long, DataFrame) = {
      val sch = schemaCatalog.computeIfAbsent(path, q => spark.read.parquet(q).schema)
      (cur, spark.read.schema(sch).parquet(path))
    }
    val (stamp, df) = relationCatalog.getOrBuild(spark, path)(build)
    if (stamp == cur) df
    else {
      relationCatalog.invalidate(path)
      schemaCatalog.remove(path)
      relationCatalog.getOrBuild(spark, path) {
        val sch = schemaCatalog.computeIfAbsent(path, q => spark.read.parquet(q).schema)
        (cur, spark.read.schema(sch).parquet(path))
      }._2
    }
  }

  /** Catalog ROW-COUNT statistic (r17): the Auto geometry derivations
    * (minhash bands, simhash blocks, hyperplane bands, IVF cells, the
    * quantizer train-sample gate) need the corpus row count BEFORE the
    * plan can be constructed, and each paid a full count() job per
    * call. In production that number comes from catalog statistics
    * (metastore ANALYZE / Iceberg manifests), maintained alongside the
    * schema; this map is that statistic, with the SAME staleness stamp
    * as the relation catalog above — an append/overwrite of the path
    * invalidates the count, so a drifting corpus re-derives its
    * geometry (SimilaritySpec's drift loop pins this). The first need
    * per (session, path) still scans; ONLY the count is kept, never
    * rows, and only for frames that are provably a bare single-root
    * file relation (deterministic projections allowed — they preserve
    * cardinality); anything else falls back to a plain count().
    */
  private val countCatalog = new graft.sources.SessionCache[(Long, Long)]()

  private def relationRoot(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    p match {
      case pr: Project if pr.projectList.forall(_.deterministic) => relationRoot(pr.child)
      case s: SubqueryAlias => relationRoot(s.child)
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
          Some(fs.location.rootPaths.head.toString)
        case _ => None
      }
      case _ => None
    }
  }

  def cachedCount(df: DataFrame): Long = {
    val spark = df.sparkSession
    relationRoot(org.apache.spark.sql.graft.Shims.logicalPlan(df)) match {
      case Some(path) =>
        val key = "count:" + path
        val cur = stampOf(spark, path)
        val (stamp, n) = countCatalog.getOrBuild(spark, key)((cur, df.count()))
        if (stamp == cur) n
        else {
          countCatalog.invalidate(key)
          countCatalog.getOrBuild(spark, key)((cur, df.count()))._2
        }
      case None => df.count()
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` arrives as either parquet TIMESTAMP(NANOS) (older
    * generator runs — Spark 4 refuses to read it natively, so the legacy
    * conf `spark.sql.legacy.parquet.nanosAsLong`, which
    * [[GraftSession.builderFor]] sets on every session, surfaces it as a
    * nanosecond long we floor-divide to µs,
    * matching DuckDB's own ns→µs truncation) or plain TIMESTAMP(MICROS)
    * (current generator). Branch on the READ schema, not the directory:
    * both layouts normalize to the same microsecond TIMESTAMP_NTZ, so
    * every downstream operator and oracle comparison is
    * representation-agnostic.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case _ => col("ts")
    }
    raw.withColumn("ts", ts.cast("timestamp_ntz"))
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
