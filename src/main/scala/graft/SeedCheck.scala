package graft

import org.apache.spark.sql.functions.col

/** ivf_pq seed-stability probe (r11 verdict item 4: "0.48 vs floor 0.45
  * is one KMeans seed from red"): rebuild the PQ serving layout from
  * scratch under `GRAFT_KMEANS_SEED` + an isolated `GRAFT_SERVE_ROOT`
  * (one JVM per seed — both knobs are env-scoped by design, see
  * [[graft.ops.Similarity.baseSeed]] and ServingLayouts.root) and print
  * ONE JSON line with the family recall@5 against exact brute force.
  * Loop it across seeds (one JVM each) so the sf1 floor margin rests
  * on a measured distribution, not a single draw.
  *
  * Usage: runMain graft.SeedCheck <sfDir> [nQueries]
  */
object SeedCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/data/sf1")
    val nQ = args.lift(1).map(_.toInt).getOrElse(100)
    val k = 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.builderFor(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.ops.{AnnServing, Similarity}

    val exact = Similarity.knnBruteForce(Tables.embeddings(spark, sfDir), nQ, k)
      .select(col("query_id"), col("neighbor_id")).cache()
    val nExact = exact.count()
    val pq = AnnServing.knnIvfPq(spark, sfDir, nQ, k)
      .select(col("query_id"), col("neighbor_id"))
    val r = pq.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .count().toDouble / nExact
    println(f"""{"metric":"seed_recall","family":"ivf_pq","seed":${Similarity.baseSeed},"sf_dir":"$sfDir","n_queries":$nQ,"recall":$r%.4f}""")
    spark.stop()
  }
}
