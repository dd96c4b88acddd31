package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // older corpora store events.ts as parquet TIMESTAMP(NANOS); the
    // mains set this in GraftSession.builderFor (see Tables.events)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // static, read once per JVM by whichever session compiles first, so
    // every suite of the shared test JVM must set the mains' value
    .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries.toLong)
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
}
