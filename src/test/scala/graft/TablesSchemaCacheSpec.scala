package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** `Tables.apply` infers a table's parquet schema once per file: a repeat
  * read launches no Spark job, a rewritten file is inferred again, and
  * every read is still a fresh relation that a self-join can resolve.
  */
class TablesSchemaCacheSpec extends SparkSpec {
  import spark.implicits._

  /** Write `df` as ONE parquet file at `dir/name.parquet`, the layout of
    * the generated test data (not a Spark output directory). */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val out = Files.createTempDirectory(dir, s"$name-out").resolve("o")
    df.coalesce(1).write.parquet(out.toString)
    val listing = Files.list(out)
    val part =
      try listing.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      finally listing.close()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  /** Spark jobs started by `body`. The status tracker learns of jobs from
    * the listener bus, asynchronously; a marker job run afterwards in a
    * group of its own is seen only once every earlier job has been seen.
    * Group names must be unique per call. */
  private def jobsLaunchedBy(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = s"$group-marker"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty,
      "marker job never reached the status tracker")
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def nations: DataFrame =
    Seq((0L, "ALGERIA", 0L), (1L, "ARGENTINA", 1L), (2L, "BRAZIL", 1L),
      (3L, "CANADA", 1L), (4L, "EGYPT", 4L), (5L, "ETHIOPIA", 0L))
      .toDF("n_nationkey", "n_name", "n_regionkey")

  test("a repeat read of an unchanged table launches no Spark job") {
    val dir = Files.createTempDirectory("tables_cache_jobs")
    writeTable(nations, dir, "nation")
    val first = jobsLaunchedBy("tables-schema-cache-first") {
      Tables(spark, dir.toString, "nation")
    }
    assert(first >= 1, "the first read infers the schema with a Spark job")
    val second = jobsLaunchedBy("tables-schema-cache-second") {
      Tables(spark, dir.toString, "nation")
    }
    assert(second == 0)
  }

  test("a rewritten file with a new schema is inferred again") {
    val dir = Files.createTempDirectory("tables_cache_rewrite")
    writeTable(Seq((1L, "a")).toDF("k", "v"), dir, "t")
    assert(Tables(spark, dir.toString, "t").schema.fieldNames.toSeq == Seq("k", "v"))
    writeTable(Seq((1L, 2.5, true)).toDF("k", "w", "flag"), dir, "t")
    val df = Tables(spark, dir.toString, "t")
    assert(df.schema.fieldNames.toSeq == Seq("k", "w", "flag"))
    assert(df.collect().toSeq.map(_.toSeq) == Seq(Seq(1L, 2.5, true)))
  }

  test("two reads of one table still self-join, with the uncached rows") {
    val dir = Files.createTempDirectory("tables_cache_selfjoin")
    writeTable(nations, dir, "nation")
    def selfJoin(a: DataFrame, b: DataFrame): Seq[(String, String)] =
      a.as("a").join(b.as("b"), $"a.n_regionkey" === $"b.n_regionkey" &&
          $"a.n_nationkey" < $"b.n_nationkey")
        .select($"a.n_name", $"b.n_name").as[(String, String)]
        .collect().toSeq.sorted
    val path = dir.resolve("nation.parquet").toString
    val uncached = selfJoin(spark.read.parquet(path), spark.read.parquet(path))
    Tables(spark, dir.toString, "nation") // warm the cache
    val cached = selfJoin(
      Tables(spark, dir.toString, "nation"), Tables(spark, dir.toString, "nation"))
    assert(cached.nonEmpty)
    assert(cached == uncached)
  }
}
