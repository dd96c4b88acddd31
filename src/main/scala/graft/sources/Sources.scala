package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch source/sink helpers — the engine-side equivalents of the
  * reference's ingestion endpoints (collector accepts JSON records /
  * batches over HTTP; here the same payload shapes land as files or
  * tables and are read schema-first).
  *
  * Always pass an explicit schema at scale: schema inference is a full
  * extra pass over the data.
  */
object Sources {

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** JSON-lines with explicit schema; rows failing the schema land in
    * `_corrupt_record` (PERMISSIVE) — the batch analog of the DLQ split.
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType,
            mode: String = "PERMISSIVE"): DataFrame =
    spark.read.schema(schema).option("mode", mode).json(path)

  /** Structural-parse DLQ wrap: rows whose raw payload failed the
    * schema (PERMISSIVE `_corrupt_record`) re-emitted in the
    * collector's DLQ record shape {error, original_message, trace_id}
    * (collector/main.py:134-146 wraps the unparseable payload exactly
    * so). trace_id is a content hash of the payload, not a uuid — at
    * scale the batch stays idempotent under retry.
    *
    * Caller note: Spark refuses a query whose only referenced columns
    * are the internal corrupt-record column on a direct file scan —
    * cache or checkpoint the parsed frame first (the spec does).
    */
  def structuralDlq(parsed: DataFrame,
                    corruptCol: String = "_corrupt_record"): DataFrame =
    parsed
      .filter(col(corruptCol).isNotNull)
      .select(
        lit("schema_validation_error").as("error"),
        col(corruptCol).as("original_message"),
        md5(col(corruptCol)).as("trace_id"))

  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** Partitioned parquet writer — the `weather` hypertable analog: at
    * scale, partition by a derived date column so time-range queries
    * prune partitions (TimescaleDB chunks ≈ parquet date partitions).
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Schema drift report between an incoming batch and a stored table:
    * columns added, columns missing, and type changes keyed by column
    * name — the check continuous ingestion runs BEFORE letting a
    * producer deployment mutate a 100 TB table's schema. Pure metadata
    * (two StructTypes), no data read.
    */
  def schemaDrift(batch: StructType, table: StructType): DataFrame = {
    val b = batch.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val t = table.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val rows =
      (b.keySet -- t.keySet).toSeq.sorted.map(n => (n, "added", t.get(n).orNull, b(n))) ++
      (t.keySet -- b.keySet).toSeq.sorted.map(n => (n, "missing", t(n), b.get(n).orNull)) ++
      (b.keySet & t.keySet).toSeq.sorted.collect {
        case n if b(n) != t(n) => (n, "type_changed", t(n), b(n))
      }
    // caller builds against its own session; keep this helper
    // session-agnostic by requiring one active
    val spark = SparkSession.active
    import spark.implicits._
    rows.toDF("column", "drift", "table_type", "batch_type")
  }

  /** Safe schema evolution for an append path: ADDED nullable columns
    * merge in (parquet mergeSchema handles old files on read);
    * MISSING columns null-fill (an older producer is fine); a TYPE
    * CHANGE is a breaking deploy and throws — route that batch to a
    * DLQ and page someone, the same contract warehouse MERGE schemas
    * enforce. Returns the batch projected to the evolved schema
    * (table columns first, then additions) ready to append.
    */
  def evolveForAppend(batch: DataFrame, table: StructType): DataFrame = {
    val drift = schemaDrift(batch.schema, table).collect()
    val broken = drift.filter(_.getString(1) == "type_changed")
    require(broken.isEmpty,
      s"breaking schema drift: ${broken.map(_.getString(0)).mkString(",")}")
    val withMissing = table.fields.foldLeft(batch) { (df, f) =>
      if (batch.schema.fieldNames.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }
    val added = batch.schema.fieldNames.filterNot(table.fieldNames.contains)
    withMissing.select((table.fieldNames ++ added).map(col): _*)
  }

  /** Clustered partitioned write — the second pruning axis after
    * directory partitioning: rows are RANGE-partitioned and sorted on
    * (partitionCols ++ sortCols), so within each partition directory
    * every file (and every row group inside it) covers a narrow,
    * non-overlapping slice of the sort key. Parquet stores per-chunk
    * min/max, and Spark's scan skips row groups whose range excludes
    * the predicate — so at 100 TB a `dt=.../user_id=k` lookup reads one
    * file's worth of one partition instead of the whole day. This is
    * the linear form of Z-ordering (right for one dominant secondary
    * key); the spec proves the non-overlap property from the actual
    * file footers, not from the plan.
    */
  def writeClustered(df: DataFrame, path: String, partitionCols: Seq[String],
                     sortCols: Seq[String], numFiles: Int = 0): Unit = {
    val keys = (partitionCols ++ sortCols).map(col)
    val ranged =
      if (numFiles > 0) df.repartitionByRange(numFiles, keys: _*)
      else df.repartitionByRange(keys: _*)
    ranged.sortWithinPartitions(keys: _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
  }

  /** Two-dimensional Z-ORDER clustered write — the multi-column
    * pruning layout (Delta/Iceberg's OPTIMIZE ZORDER): each row's two
    * cluster keys are scaled to `bits`-bit integer grid coordinates and
    * BIT-INTERLEAVED into one Morton value; range-partitioning + sort
    * on that value makes every output file cover a small ~square tile
    * of the (x, y) plane, so parquet min/max row-group stats prune
    * scans filtered on EITHER column (the linear [[writeClustered]]
    * prunes only its leading key). The write itself is one shuffle on
    * the produced layout, same as the linear form.
    *
    * Grid coordinates come from min/max scaling (two broadcast
    * scalars — no rank pass): right when keys are roughly uniform
    * (ids, timestamps). For a heavily skewed key use
    * [[writeZOrderedRanked]] — value scaling would collapse most rows
    * into a few grid cells and kill pruning on that axis.
    */
  def writeZOrdered(df: DataFrame, path: String, partitionCols: Seq[String],
                    zCols: (String, String), numFiles: Int = 0,
                    bits: Int = 16): Unit = {
    val (cx, cy) = zCols
    val ext = df.agg(
      min(col(cx).cast("double")).as("__xlo"), max(col(cx).cast("double")).as("__xhi"),
      min(col(cy).cast("double")).as("__ylo"), max(col(cy).cast("double")).as("__yhi"))
    val side = 1L << bits
    def grid(c: Column, lo: Column, hi: Column): Column =
      when(hi === lo, lit(0L)).otherwise(
        least(floor((c.cast("double") - lo) / (hi - lo) * side), lit(side - 1)))
        .cast("long")
    val zed = df.join(broadcast(ext))
      .withColumn("__z", morton(bits,
        grid(col(cx), col("__xlo"), col("__xhi")),
        grid(col(cy), col("__ylo"), col("__yhi"))))
      .drop("__xlo", "__xhi", "__ylo", "__yhi")
    writeByZ(zed, path, partitionCols, numFiles)
  }

  /** Morton bit-interleave of two `bits`-bit grid coordinates. */
  private def morton(bits: Int, x: Column, y: Column): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  private def writeByZ(zed: DataFrame, path: String,
                       partitionCols: Seq[String], numFiles: Int): Unit = {
    val keys = partitionCols.map(col) :+ col("__z")
    val ranged =
      if (numFiles > 0) zed.repartitionByRange(numFiles, keys: _*)
      else zed.repartitionByRange(keys: _*)
    ranged.sortWithinPartitions(keys: _*)
      .drop("__z")
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
  }

  /** RANK-scaled Z-order — the skewed-key form of [[writeZOrdered]]:
    * grid coordinates come from each key's QUANTILE splits
    * (approxQuantile — one sample-based pass, broadcast as a literal
    * array) instead of min/max value scaling, so every grid row/column
    * holds ~equal data mass no matter how the values distribute, and
    * pruning stays alive on a long-tailed key. Coordinates are the
    * split-array rank of the value (a codegen'd aggregate over the
    * 2^bits-element broadcast array — write-time cost only). 8-bit
    * grids (256×256 tiles) are the practical default here: quantile
    * estimation at 2^16 splits buys nothing.
    */
  def writeZOrderedRanked(df: DataFrame, path: String,
                          partitionCols: Seq[String], zCols: (String, String),
                          numFiles: Int = 0, bits: Int = 8): Unit = {
    val (cx, cy) = zCols
    val side = 1 << bits
    val probs = (1 until side).map(_.toDouble / side).toArray
    // both columns' splits from ONE approxQuantile pass (the multi-column
    // overload shares a single scan of df)
    val Array(splitsX, splitsY) =
      df.stat.approxQuantile(Array(cx, cy), probs, 0.001)
    def grid(c: String, splits: Array[Double]): Column = {
      val arr = array(splits.map(lit(_)): _*)
      // rank = #splits ≤ value — equals the quantile bucket index
      aggregate(arr, lit(0L),
        (acc, s) => acc + when(col(c).cast("double") >= s, 1L).otherwise(0L))
    }
    val zed = df.withColumn("__z",
      morton(bits, grid(cx, splitsX), grid(cy, splitsY)))
    writeByZ(zed, path, partitionCols, numFiles)
  }

  /** Small-file compaction for a partitioned parquet table — the
    * maintenance pass every continuously-ingested table needs: each
    * micro-batch/upsert leaves per-partition file fragments, and at
    * 100 TB a scan's task count (and the namenode/liststatus load) is
    * driven by FILE count, not byte count. Rewrites each partition into
    * ~ceil(partitionBytes / targetBytes) files.
    *
    * Mechanics: partition byte sizes come from a driver-side METADATA
    * listing (one listStatus walk — no data movement); each row then
    * gets a deterministic output-file slot `pmod(xxhash64(keys...),
    * nFiles(partition))` joined in from the broadcast-sized size map,
    * and one repartition on (partitionCols, slot) co-locates every
    * slot's rows so the writer emits one file per slot per partition
    * dir. Data is only read and written ONCE, shuffled on exactly the
    * layout being produced. Output goes to `destPath`, never over the
    * source; a table that needs the rewrite published atomically is a
    * [[SnapshotTable]], whose [[SnapshotTable.compact]] is that commit.
    *
    * Partition values are joined back by their directory string form
    * (`k=v`); values needing URL-escaping (rare for date/hour-style
    * partition keys) are out of scope here.
    */
  def compactPartitions(spark: SparkSession, srcPath: String, destPath: String,
                        partitionCols: Seq[String],
                        targetBytes: Long = 128L * 1024 * 1024): Unit = {
    import org.apache.hadoop.fs.Path
    val hPath = new Path(srcPath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leafSizes(p: Path, depth: Int, rel: String): Seq[(String, Long)] =
      if (depth == 0)
        Seq(rel -> fs.listStatus(p).filter(_.isFile).map(_.getLen).sum)
      else fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { s =>
        val r = if (rel.isEmpty) s.getPath.getName else rel + "/" + s.getPath.getName
        leafSizes(s.getPath, depth - 1, r)
      }
    import spark.implicits._
    val sizes = leafSizes(hPath, partitionCols.length, "")
      .map { case (rel, bytes) =>
        (rel, math.max(1L, (bytes + targetBytes - 1) / targetBytes)) }
      .toDF("__rel", "__n_files")
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prevInfer = spark.conf.get(inferKey)
    spark.conf.set(inferKey, "false")
    val df =
      try spark.read.parquet(srcPath)
      finally spark.conf.set(inferKey, prevInfer)
    val relExpr = concat_ws("/",
      partitionCols.map(c => concat(lit(c + "="), col(c).cast("string"))): _*)
    val dataCols = df.columns.filterNot(partitionCols.contains)
    val slotted = df
      .withColumn("__rel", relExpr)
      .join(broadcast(sizes), Seq("__rel"))
      .withColumn("__slot",
        pmod(xxhash64(dataCols.map(col): _*), col("__n_files")))
    slotted
      .repartition((partitionCols :+ "__slot").map(col): _*)
      .drop("__rel", "__n_files", "__slot")
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(destPath)
  }

  /** Bucketed external table — pre-shuffled storage so repeated joins
    * and aggregations on the bucket key run with NO exchange at read
    * time. This is the 100 TB answer to "the same big join every day":
    * pay the shuffle once at write. (Bucketing metadata lives in the
    * catalog, hence saveAsTable.)
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCol: String, nBuckets: Int,
                    sortCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(nBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).format("parquet").saveAsTable(table)
  }

  /** Re-register an EXISTING bucketed parquet layout (files written by
    * [[writeBucketed]] in some earlier process) in THIS catalog — the
    * cross-JVM half of the bucketing story: the files carry their
    * bucket ids in their names, but the bucket SPEC lives only in
    * catalog metadata, so a fresh JVM must re-declare it before joins
    * can skip the exchange. Schema is read from the parquet footers;
    * the declared spec must match how the files were written or scans
    * would be silently mis-bucketed — callers persist (bucketCol,
    * nBuckets) alongside the layout (the serving meta tables do) and
    * pass those stored values, never a guess.
    */
  def registerBucketedTable(spark: SparkSession, table: String, path: String,
                            bucketCol: String, nBuckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val schema = spark.read.parquet(path).schema
    val cols = schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(
      s"""CREATE TABLE `$table` ($cols) USING PARQUET
         |CLUSTERED BY (`$bucketCol`) INTO $nBuckets BUCKETS
         |LOCATION '$path'""".stripMargin)
  }
}
