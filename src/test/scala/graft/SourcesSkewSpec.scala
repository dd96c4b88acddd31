package graft

import graft.ops.Skew
import graft.sources.{SnapshotTable, Sources}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SourcesSkewSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("station_id", StringType),
    StructField("temperature", DoubleType),
    StructField("_corrupt_record", StringType)))

  test("jsonl source routes malformed records to _corrupt_record (DLQ analog)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.jsonl"),
      """{"station_id":"s1","temperature":20.5}
        |{"station_id":"s2","temperature":"NOT_A_NUMBER"}
        |not json at all""".stripMargin)
    val df = Sources.jsonl(spark, dir, schema).cache()
    assert(df.count() === 3)
    assert(df.filter(col("_corrupt_record").isNotNull).count() === 2)
    assert(df.filter(col("station_id") === "s1").count() === 1)
    df.unpersist()
  }

  test("partitioned writer produces date-prunable layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val ev = Tables.events(spark, sfDir).withColumn("date", to_date(col("ts")))
    Sources.writePartitioned(ev, dir, Seq("date"))
    val back = spark.read.parquet(dir).filter(col("date") === "2024-01-05")
    val plan = back.queryExecution.executedPlan.toString
    assert(back.count() > 0)
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("date=")))
    // the date predicate must prune partitions at planning, not scan+filter
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(date"), plan.take(900))
  }

  test("salted sum equals plain sum") {
    val ev = Tables.events(spark, sfDir)
    val salted = Skew.saltedSum(ev, col("event_type"), col("value"))
      .select("key", "n").as[(String, Long)].collect().toMap
    val plain = ev.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    assert(salted === plain)
  }

  test("partitioned upsert keeps the newest row per key and only touches batch partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString + "/table"
    def batch(rows: (Long, String, Long, Double)*) =
      rows.toDF("event_id", "date", "user_id", "value")
    def upsert(df: org.apache.spark.sql.DataFrame): Long =
      SnapshotTable.upsertOrCreate(spark, dir, df,
        keyCols = Seq("date", "user_id"), orderCol = "event_id",
        partitionCols = Seq("date"))
    def filesOf(part: String): Set[String] = SnapshotTable.manifest(spark, dir)
      .filter(col("part") === part).select("path").as[String].collect().toSet
    // base: two date partitions
    upsert(batch((1L, "2024-01-01", 1L, 10.0), (2L, "2024-01-02", 2L, 20.0)))
    val untouched = filesOf("date=2024-01-02")
    assert(untouched.nonEmpty)
    // second delivery: corrects user 1 on 01-01 (higher event_id), adds 01-03
    upsert(batch((5L, "2024-01-01", 1L, 11.0), (6L, "2024-01-03", 3L, 30.0)))
    val back = SnapshotTable.read(spark, dir)
      .select("event_id", "date", "user_id", "value")
      .as[(Long, String, Long, Double)].collect().sortBy(_._1)
    assert(back.toSeq === Seq(
      (2L, "2024-01-02", 2L, 20.0),   // untouched partition intact
      (5L, "2024-01-01", 1L, 11.0),   // keep-last won
      (6L, "2024-01-03", 3L, 30.0)))  // new partition appended
    // the 01-02 partition's files were not rewritten: they carry forward
    assert(filesOf("date=2024-01-02") === untouched)
    // idempotent: re-delivering the same batch changes nothing
    upsert(batch((5L, "2024-01-01", 1L, 11.0)))
    assert(SnapshotTable.read(spark, dir).count() === 3)
  }

  test("partitioned upsert into a NULL-valued partition keeps the partition's prior rows") {
    // a plain equality semi-join never matches existing null-partition
    // rows (null = null is not true), so an upsert targeting
    // __HIVE_DEFAULT_PARTITION__ that rewrote the partition from its
    // matched rows alone would discard its prior contents — data loss,
    // not duplication
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_null").toString + "/table"
    def batch(rows: (Long, Option[String], Long, Double)*) =
      rows.toDF("event_id", "date", "user_id", "value")
    def upsert(df: org.apache.spark.sql.DataFrame): Long =
      SnapshotTable.upsertOrCreate(spark, dir, df,
        keyCols = Seq("user_id"), orderCol = "event_id",
        partitionCols = Seq("date"))
    def rows: Seq[(Long, Long, Double)] = SnapshotTable.read(spark, dir)
      .select("event_id", "user_id", "value")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    upsert(batch((1L, None, 1L, 10.0), (2L, Some("2024-01-02"), 2L, 20.0)))
    // upsert a NEW key into the null partition
    upsert(batch((5L, None, 3L, 30.0)))
    assert(rows === Seq(
      (1L, 1L, 10.0),   // prior null-partition row MUST survive
      (2L, 2L, 20.0),
      (5L, 3L, 30.0)))
    // and keep-last still applies within the null partition
    upsert(batch((9L, None, 1L, 11.0)))
    assert(rows === Seq((2L, 2L, 20.0), (5L, 3L, 30.0), (9L, 1L, 11.0)))
  }

  test("structural DLQ wraps corrupt rows in the collector's record shape") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dlqwrap").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.jsonl"),
      """{"station_id":"s1","temperature":20.5}
        |{"station_id":"s2","temperature":"NOT_A_NUMBER"}
        |not json at all""".stripMargin)
    val parsed = Sources.jsonl(spark, dir, schema).cache()
    val dlq = Sources.structuralDlq(parsed).collect()
    assert(dlq.length === 2)
    assert(dlq.forall(r => r.getAs[String]("error") === "schema_validation_error"))
    assert(dlq.map(_.getAs[String]("original_message")).toSet
      === Set("""{"station_id":"s2","temperature":"NOT_A_NUMBER"}""", "not json at all"))
    // trace_id is a deterministic content hash, unique per distinct payload
    assert(dlq.map(_.getAs[String]("trace_id")).distinct.length === 2)
    parsed.unpersist()
  }

  test("AQE splits a skewed join partition (the no-salt skew path)") {
    // one hot key carrying most rows — the shape that stalls a plain
    // sort-merge join on a single straggler task. With the skew-join
    // thresholds lowered to test scale, AQE must mark and split the
    // oversized partition; salting (Skew.scala) stays the fallback for
    // aggregation skew, but joins should heal without code changes.
    val conf = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(50000)
        .select(when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
          concat(lit("payload-payload-payload-"), col("id")).as("v"))
      val right = spark.range(200).select(col("id").as("k"), col("id").as("w"))
      val joined = left.join(right, "k")
      // reference count via an explicitly-broadcast join (strategy-independent)
      val expect = left.join(broadcast(right), "k").count()
      // collect() executes joined's OWN QueryExecution, so the adaptive
      // plan below is the final one (count() would plan a separate query)
      assert(joined.collect().length.toLong === expect && expect > 40000L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(1200))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("join salt is stable under repartition") {
    val ev = Tables.events(spark, sfDir).select("event_id", "event_type", "value")
    def salts(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.withColumn("__salt", Skew.stableSalt(df, 8))
        .select("event_id", "__salt").as[(Long, Long)].collect().toMap
    // monotonically_increasing_id-based salting changes row→salt under a
    // different partition layout; a content hash must not
    assert(salts(ev) === salts(ev.repartition(7)))
  }

  test("z-ordered write tiles BOTH cluster keys into narrow per-file boxes") {
    val events = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withColumn("epoch_s", col("ts").cast("timestamp").cast("long"))
    val zDir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val linDir = java.nio.file.Files.createTempDirectory("graft_linear").toString
    Sources.writeZOrdered(events, zDir, Seq.empty, ("user_id", "epoch_s"), numFiles = 16)
    Sources.writeClustered(events, linDir, Seq.empty, Seq("user_id"), numFiles = 16)
    // same rows either way
    assert(spark.read.parquet(zDir).exceptAll(events).isEmpty &&
      events.exceptAll(spark.read.parquet(zDir)).isEmpty)

    def avgRanges(dir: String): (Double, Double) = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      assert(files.length > 4, s"expected many files in $dir")
      val spans = files.map { f =>
        val r = spark.read.parquet(f).agg(
          min("user_id"), max("user_id"), min("epoch_s"), max("epoch_s"))
          .as[(Long, Long, Long, Long)].head()
        (r._2 - r._1, r._4 - r._3)
      }
      val g = events.agg(
        max("user_id") - min("user_id"),
        max("epoch_s") - min("epoch_s")).as[(Long, Long)].head()
      (spans.map(_._1.toDouble / g._1).sum / spans.length,
        spans.map(_._2.toDouble / g._2).sum / spans.length)
    }
    val (zU, zT) = avgRanges(zDir)
    val (lU, lT) = avgRanges(linDir)
    // linear layout: leading key narrow, second key spans ~everything
    assert(lU < 0.3, s"linear leading-key span $lU")
    assert(lT > 0.7, s"linear second-key span $lT should be wide")
    // z-order: BOTH keys bounded per file — each file is a tile, so
    // min/max stats prune on either predicate column
    assert(zU < 0.6 && zT < 0.6, s"z-order spans user=$zU ts=$zT")
    assert(zT < lT / 2, s"z-order ts span $zT not better than linear $lT")
  }

  test("schema drift report and safe append evolution") {
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    val v1 = Seq((1L, "a", 1.0)).toDF("id", "name", "score")
    v1.write.mode("overwrite").parquet(dir)
    val table = spark.read.parquet(dir).schema
    // v2 producer: drops name, adds tag
    val v2 = Seq((2L, 2.5, "x")).toDF("id", "score", "tag")
    val drift = Sources.schemaDrift(v2.schema, table)
      .as[(String, String, String, String)].collect().toSet
    assert(drift === Set(
      ("tag", "added", null, "string"),
      ("name", "missing", "string", null)))
    // evolution: missing null-fills, added rides along, order = table ++ new
    val evolved = Sources.evolveForAppend(v2, table)
    assert(evolved.schema.fieldNames.toSeq === Seq("id", "name", "score", "tag"))
    evolved.write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.count() === 2)
    val byId = merged.select("id", "name", "tag")
      .as[(Long, String, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId(1L) === (("a", null)) && byId(2L) === ((null, "x")))
    // a type change is a breaking deploy and must throw
    val broken = Seq(("3", 1.0)).toDF("id", "score")
    intercept[IllegalArgumentException] {
      Sources.evolveForAppend(broken, table)
    }
  }

  test("rank-scaled z-order keeps pruning alive on a heavy-tailed key") {
    // lognormal-ish x: value scaling collapses ~all rows into the lowest
    // grid cells; rank scaling spreads them by data mass
    val data = spark.range(20000).select(
      exp(rand(7) * 8.0).as("x"), (rand(13) * 1000.0).as("y"))
      .cache()
    val n = data.count().toDouble
    val mmDir = java.nio.file.Files.createTempDirectory("graft_z_mm").toString
    val rkDir = java.nio.file.Files.createTempDirectory("graft_z_rk").toString
    Sources.writeZOrdered(data, mmDir, Seq.empty, ("x", "y"), numFiles = 16)
    Sources.writeZOrderedRanked(data, rkDir, Seq.empty, ("x", "y"), numFiles = 16)
    assert(spark.read.parquet(rkDir).count() === 20000)

    // avg per-file span of x measured in RANK terms (fraction of all
    // rows falling inside the file's [min, max] x interval) — the
    // quantity that decides how much a predicate on x can prune
    def avgRankSpan(dir: String): Double = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      assert(files.length > 4)
      val spans = files.map { f =>
        val (lo, hi) = spark.read.parquet(f).agg(min("x"), max("x"))
          .as[(Double, Double)].head()
        data.filter(col("x") >= lo && col("x") <= hi).count() / n
      }
      spans.sum / spans.length
    }
    val mm = avgRankSpan(mmDir)
    val rk = avgRankSpan(rkDir)
    // a 1/16 z-interval on a square Morton curve spans ~1/4 of each
    // axis, so ~0.3-0.45 with boundary effects is the healthy range;
    // value scaling on this tail measures ~0.75 (x-pruning dead)
    assert(rk < 0.55, s"ranked z-order x rank-span $rk")
    assert(rk < mm * 0.7, s"ranked $rk not enough better than minmax $mm")
    data.unpersist()
  }

  test("salted join equals plain join") {
    val ev = Tables.events(spark, sfDir)
    val dim = Seq(("click", 1.0), ("view", 0.5), ("purchase", 5.0),
      ("signup", 2.0), ("error", 0.0)).toDF("event_type", "weight")
    val a = Skew.saltedJoin(ev, dim, "event_type").agg(sum("weight")).head().getDouble(0)
    val b = ev.join(dim, "event_type").agg(sum("weight")).head().getDouble(0)
    assert(a === b)
  }
}
