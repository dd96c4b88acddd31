package graft

/** CI lock for driver-crash stream recovery: forks
  * `graft.StreamCrashCheck` — which itself runs each of its sinks (the
  * corpus-ingest stream and the HLL store) in a child JVM, `halt()`s it
  * inside a micro-batch's post-commit / pre-commit-log window, resumes
  * the checkpoint in a fresh JVM, and diffs against an undisturbed
  * control. A subprocess (the LocalClusterSpec pattern) because the
  * suite JVM holds a shared SparkContext and because separate driver
  * processes are the point. sf0.01, not sf0.001: the staged docs are
  * corpus near-dups by construction and the ingest funnel drops most of
  * them — the larger corpus guarantees a non-vacuous accepted set (~96
  * rows) spread across batches, so the replayed batch really has rows
  * to double.
  */
class StreamCrashSpec extends SparkSpec {

  test("mid-batch driver crash resumes exactly-once (no duplicate appends)") {
    val out = java.io.File.createTempFile("graft_stream_crash", ".json")
    out.deleteOnExit()
    // isolated layout universe — the forked check builds its own dedup
    // index and can never race layouts the suites are serving from
    val serveRoot = java.nio.file.Files.createTempDirectory("graft_crash_serve")
    val r = graft.gates.GateHarness.fork("graft.StreamCrashCheck",
      Seq("/root/testdata/sf0.01", "6"), heap = "3g", timeoutMinutes = 8,
      env = Map(
        "SPARK_GRAFT_CPUS" -> "4",
        "SPARK_GRAFT_CRASH_OUT" -> out.getAbsolutePath,
        "GRAFT_SERVE_ROOT" -> serveRoot.toString))
    if (r.timedOut) fail(s"StreamCrashCheck timed out.\n${r.log.takeRight(4000)}")
    assert(r.exit === 0,
      s"crash recovery failed or produced duplicates:\n${r.log.takeRight(4000)}")
    val json = new String(java.nio.file.Files.readAllBytes(out.toPath))
    for (sink <- Seq("corpus", "hll")) {
      val obj = json.drop(json.indexOf(s"\"$sink\":{")).takeWhile(_ != '}')
      assert(obj.contains("\"crashed_mid_stream\":true"), s"$sink: halt never landed mid-stream: $json")
      assert(obj.contains("\"match\":true"), s"$sink: artifact shows mismatch: $json")
    }
  }
}
