package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Catalog layer: the driver-generated TPC-H-ish star schema plus the
  * LLM-data-pipeline tables (documents, embeddings, events).
  *
  * Mirrors the reference's table surface (ByConity `StorageCnchMergeTree`,
  * /root/reference/src/Storages/StorageCnchMergeTree.h:38) as plain
  * Parquet-backed Spark tables: scans get Catalyst predicate pushdown,
  * column pruning and row-group pruning for free — the Spark-native
  * equivalent of MergeTree partition/mark pruning
  * (/root/reference/src/Storages/MergeTree/MergeTreeDataSelectExecutor.cpp:175).
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val pipeline: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = tpch ++ pipeline

  /** Read one table from an sf directory, normalizing every timestamp
    * column to the engine's canonical `TimestampType` regardless of the
    * physical parquet encoding the generator happened to use. Observed
    * drift across testdata regenerations:
    *
    *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright;
    *     read as raw nanos and floor-divide to µs — the same truncation
    *     DuckDB applies — so both engines observe identical values.
    *   - timestamp[us] with no isAdjustedToUTC flag: Spark 4 infers
    *     TIMESTAMP_NTZ, on which strictly-typed calls (`unix_micros`,
    *     window lag over ts, ASOF inequalities) throw DATATYPE_MISMATCH.
    *     Cast NTZ → TimestampType; with the session timezone pinned to
    *     UTC (every Engine/Verify/Bench builder does) the wall-clock
    *     reinterpretation is value-identical to DuckDB's NTZ reading.
    *
    * The reference's DateTime is timezone-less by construction
    * (/root/reference/src/DataTypes/DataTypeDateTime.h:54) and immune to
    * this class of drift; this choke point is the Spark-native analogue —
    * every query path reads tables through here, so one cast repairs all.
    *
    * The parquet schema is inferred once per file, not once per call:
    * see [[schemaOf]]. Every call still builds a fresh relation (fresh
    * exprIds), so a query may read the same table twice, e.g. a self-join.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val raw = spark.read.schema(schemaOf(spark, path)).parquet(path)
    val df =
      if (name == "events" && raw.schema("ts").dataType == LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) df
    else df.withColumns(
      ntz.map(f => f.name -> col(f.name).cast(TimestampType)).toMap)
  }

  /** Canonical timestamp→µs conversion — the ONE strictly-typed call
    * site. `unix_micros` is typed to TIMESTAMP and throws
    * DATATYPE_MISMATCH on TIMESTAMP_NTZ; the inner cast is a no-op on
    * already-canonical columns, reinterprets NTZ under the pinned UTC
    * session tz (value-identical to the oracle's reading), and gives
    * future encoding drift a single repair point instead of ~40
    * scattered `unix_micros(col("ts"))` calls — the round-7 failure
    * mode. Every operator needing event-time µs must go through here.
    */
  def tsUs(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** Session confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** A file's identity: qualified path, modification time, length. */
  private final case class FileId(path: String, mtime: Long, length: Long)

  /** `files` lists the path itself, or every file under it when it is a
    * directory, so adding, removing or rewriting a part file changes it. */
  private final case class SchemaKey(
      path: String, files: Seq[FileId], confs: Seq[Option[String]])

  /** Inferred schemas, shared by every session of the JVM. Holds only
    * strings, numbers and `StructType`s, never a session. */
  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  /** The parquet schema at `path` as `spark.read.parquet` would infer it,
    * without the Spark job that inference launches when the file is
    * unchanged since the last call.
    *
    * The cache key is the file's identity (qualified path, modification
    * time and length from `FileSystem.getFileStatus`; for a directory,
    * those of every file under it) plus the current value of every conf
    * in [[inferenceConfs]]. A rewritten file changes its key, so the next
    * call infers again; the entries for the old contents of that path are
    * dropped then. A rewrite that keeps both the modification time and
    * the length goes unseen. Two threads that miss at once both infer,
    * and both store the same schema.
    */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(p)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
      else Seq(st)
    val files = leaves(fs.getFileStatus(qualified))
      .map(f => FileId(f.getPath.toString, f.getModificationTime, f.getLen))
      .sortBy(_.path)
    val key = SchemaKey(qualified.toString, files,
      inferenceConfs.map(spark.conf.getOption))
    val cached = schemas.get(key)
    if (cached != null) cached
    else {
      val inferred = spark.read.parquet(path).schema
      schemas.put(key, inferred)
      schemas.keySet.removeIf(k => k.path == key.path && k.files != key.files)
      inferred
    }
  }

  /** Register every table of an sf directory as a temp view so that
    * `spark.sql` queries (the engine's SQL front door) resolve them.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
