package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files
import graft.sources.SnapshotTable
import graft.streaming.{CorpusStream, EventStream}

/** Driver-crash recovery gate for the continuous-ingest sinks. The
  * StreamingSpec replay proofs run in ONE session: a stream finishes,
  * then a second query re-reads the committed checkpoint — which
  * proves offset idempotence but never the deployment failure mode, a
  * driver process dying MID-STREAM and a NEW process resuming from a
  * half-committed checkpoint. The dangerous window is specific:
  * foreachBatch's sink commit has landed but the streaming commit log
  * has not recorded the batch — on resume the engine MUST replay that
  * batch, and a non-idempotent sink doubles it.
  *
  * Mechanism, per sink: stage a backlog (one micro-batch per file),
  * run the stream in a CHILD JVM that `Runtime.halt()`s — no shutdown
  * hooks, a real crash — INSIDE batch k's foreachBatch, after its
  * commit is durable and before the engine records the batch in the
  * commit log (streaming.FaultInjection), so the resume is GUARANTEED
  * to replay batch k; then a SECOND child JVM resumes the same
  * checkpoint to completion. The resumed output must equal an
  * undisturbed single-run control — i.e. the sink's
  * [[graft.sources.SnapshotTable.commitBatch]] guard absorbed the
  * redelivery. Two sinks:
  *  - `corpus`: [[CorpusStream.ingestOnce]] over perturbed documents;
  *    the destination (read through [[SnapshotTable.read]]) must match
  *    the control bit-for-bit with unique doc_ids;
  *  - `hll`: [[EventStream.hllIngestOnce]] over the events; the served
  *    store's (event_type, day, approx_users, n_events) must match the
  *    control — a replayed batch would count its events twice.
  *
  * Usage:   runMain graft.StreamCrashCheck <sfDir> [nBatches]
  * (child)  runMain graft.StreamCrashCheck --child corpus <sfDir>
  *            <srcDir> <destPath> <ckptDir>
  *          runMain graft.StreamCrashCheck --child hll <srcDir>
  *            <storePath> <ckptDir>   (+ GRAFT_CRASH_AFTER_BATCH env)
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_CRASH_OUT (JSON artifact path).
  */
object StreamCrashCheck {

  private val HaltExit = graft.streaming.FaultInjection.HaltExit
  private val Completed = "STREAM_CRASH_CHECK_COMPLETED"

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--child")) child(args.drop(1)) else parent(args)

  private def child(args: Array[String]): Unit = {
    // the crash itself is injected by GRAFT_CRASH_AFTER_BATCH
    // (streaming.FaultInjection): halt() fires INSIDE foreachBatch,
    // after that batch's commit is durable and before the engine
    // records the batch in the commit log — the worst-case window.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builderFor(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.toSeq match {
      case Seq("corpus", sfDir, srcDir, destPath, ckptDir) =>
        val index = graft.ops.DedupServing.servedIndex(spark, sfDir)
        CorpusStream.ingestOnce(spark, srcDir, index, destPath, ckptDir,
          maxFilesPerTrigger = 1)
      case Seq("hll", srcDir, storePath, ckptDir) =>
        EventStream.hllIngestOnce(spark, srcDir, storePath, ckptDir,
          maxFilesPerTrigger = 1)
      case other => throw new IllegalArgumentException(s"bad child args: $other")
    }
    println(Completed)
    spark.stop()
    sys.exit(0)
  }

  /** One sink's run: crash the child inside batch `haltAfter`, resume
    * it from the same checkpoint in a fresh JVM, then `read` the output
    * back — its fingerprint and a sink-specific check. Returns the
    * sink's artifact object and whether it is red. A zero-row control
    * is red: it leaves the replayed batch nothing to double.
    */
  private def crashAndResume(childArgs: Seq[String], cpus: String, haltAfter: Long,
                             control: (Long, String))(
      read: => ((Long, String), Boolean)): (String, Boolean) = {
    def fork(crashAfterBatch: Option[Long]) =
      graft.gates.GateHarness.fork("graft.StreamCrashCheck", "--child" +: childArgs,
        heap = "4g", timeoutMinutes = 8,
        env = Map("SPARK_GRAFT_CPUS" -> cpus) ++
          crashAfterBatch.map(b => "GRAFT_CRASH_AFTER_BATCH" -> b.toString))
    val crash = fork(Some(haltAfter))
    val crashed = graft.gates.GateHarness.crashedMidStream(
      crash.exit, crash.log, HaltExit, Completed)
    val resume = fork(None)
    val resumed = resume.exit == 0 && resume.log.contains(Completed)
    val (got, ok) = read
    val matches = got == control && ok && control._1 > 0
    val red = !crashed || !resumed || !matches
    if (red) System.err.println(s"${childArgs.head} sink, crash log tail:\n" +
      s"${crash.log.takeRight(1500)}\nresume log tail:\n${resume.log.takeRight(1500)}")
    (s"""{"crashed_mid_stream":$crashed,"resumed":$resumed,"rows":${got._1},""" +
      s""""control_rows":${control._1},"match":$matches}""", red)
  }

  private def parent(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(8)
    val haltAfter = math.max(2, nBatches / 3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builderFor(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("graft_stream_crash").toString
    def fingerprint(df: org.apache.spark.sql.DataFrame) =
      graft.gates.GateHarness.fingerprint(df.collect())

    // ---- sink 1: corpus ingest. Backlog: fresh ids, text perturbed so
    // the stream does real near-dup work (the StreamBench staging pattern)
    val docs = Tables.documents(spark, sfDir)
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val docsSrc = s"$work/docs_src"
    docs.select((col("doc_id") + maxId + 1).as("doc_id"),
        concat(col("text"), lit(" streamed suffix")).as("text"))
      .repartition(nBatches).write.parquet(docsSrc)
    val index = graft.ops.DedupServing.servedIndex(spark, sfDir)
    CorpusStream.ingestOnce(spark, docsSrc, index,
      s"$work/ctrl_dest", s"$work/ctrl_ckpt", maxFilesPerTrigger = 1)
    val (corpus, corpusRed) = crashAndResume(Seq("corpus", sfDir, docsSrc, s"$work/dest",
        s"$work/ckpt"), cpus, haltAfter, fingerprint(SnapshotTable.read(spark, s"$work/ctrl_dest"))) {
      val out = SnapshotTable.read(spark, s"$work/dest")
      val got = fingerprint(out)
      (got, out.select("doc_id").distinct().count() == got._1) // doc_ids unique
    }

    // ---- sink 2: the HLL store over the events, one file per batch
    val evSrc = s"$work/events_src"
    Tables.events(spark, sfDir).repartition(nBatches).write.parquet(evSrc)
    EventStream.hllIngestOnce(spark, evSrc, s"$work/ctrl_store", s"$work/ctrl_hll_ckpt",
      maxFilesPerTrigger = 1)
    val (hll, hllRed) = crashAndResume(Seq("hll", evSrc, s"$work/store", s"$work/hll_ckpt"),
        cpus, haltAfter, fingerprint(EventStream.hllServe(spark, s"$work/ctrl_store"))) {
      (fingerprint(EventStream.hllServe(spark, s"$work/store")), true)
    }
    spark.stop()
    graft.gates.GateHarness.artifact("stream_crash_recovery")
      .str("sf", sfDir).num("n_batches", nBatches.toLong)
      .num("halt_after", haltAfter.toLong)
      .raw("corpus", corpus).raw("hll", hll)
      .emit("SPARK_GRAFT_CRASH_OUT", red = corpusRed || hllRed)
  }
}
