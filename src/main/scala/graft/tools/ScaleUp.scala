package graft.tools

import graft.{Engine, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: deterministically scale an existing SF directory by K× for
  * SCALING MEASUREMENTS (8-core vs 32-core ratios). sf0.1's per-query
  * times are 5–80 ms — fixed per-stage overhead, non-diagnostic for
  * parallelism (r15 verdict item 7) — so this synthesizes a K×-bigger
  * corpus by unioning K key-shifted copies of every table:
  *
  *  - fact/entity keys are offset per copy by a round power of ten above
  *    the max of their key domain's parent key (see [[ScaleUp.KeyDomain]]),
  *    so copies never collide and join fan-outs
  *    (customer↔orders↔lineitem, events.user_id, embeddings.vec_id)
  *    replicate per copy → every query's work scales ~linearly;
  *  - nation/region (shared dimensions) are NOT replicated — foreign
  *    keys into them stay valid;
  *  - documents' text is token-salted per copy (every token gets a
  *    "_cK" suffix), keeping copy vocabularies disjoint: near-dup pairs
  *    replicate per copy instead of exploding quadratically across
  *    copies (exact duplicates would pair with every other copy);
  *  - copy 0 is byte-identical to the source, so probe filters
  *    (vec_id < 10, centroid seeds < 16) keep their original rows and
  *    the probe side stays fixed-size while the corpus grows.
  *
  * NOT an oracle scale: this data is for perf/scaling evidence only.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <copies>
  */
object ScaleUp {

  /** A key domain: a parent table's key column and the foreign-key
    * columns that refer to it. Every column of a domain shifts by the
    * same per-copy offset, so copy i's children join copy i's parents.
    * (events.user_id joins customer.c_custkey in the TPC-DS shapes.)
    */
  final case class KeyDomain(parent: (String, String), children: Seq[(String, String)])

  val domains: Seq[KeyDomain] = Seq(
    KeyDomain("customer" -> "c_custkey", Seq("orders" -> "o_custkey", "events" -> "user_id")),
    KeyDomain("orders" -> "o_orderkey", Seq("lineitem" -> "l_orderkey")),
    KeyDomain("supplier" -> "s_suppkey", Seq("lineitem" -> "l_suppkey")),
    KeyDomain("part" -> "p_partkey", Seq("lineitem" -> "l_partkey")),
    KeyDomain("documents" -> "doc_id", Nil),
    KeyDomain("embeddings" -> "vec_id", Nil))

  /** Next power of ten ≥ max+1, so shifted ids stay readable and mod-k
    * blocking predicates (doc_id % 5) keep their selectivity per copy. */
  def offsetAbove(max: Long): Long = {
    var p = 10L
    while (p <= max) p *= 10
    p
  }

  /** (table, column) → per-copy offset: one offset per domain, taken from
    * the parent key's max. A child's own max never enters: a child max of
    * 9999 under a parent max of 10000 would otherwise shift by 10⁴ against
    * the parent's 10⁵ and sever every cross-copy join. `parentMax` is only
    * called on the domains' parent columns. */
  def columnOffsets(parentMax: ((String, String)) => Long): Map[(String, String), Long] =
    domains.flatMap { d =>
      val off = offsetAbove(parentMax(d.parent))
      (d.parent +: d.children).map(_ -> off)
    }.toMap

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = args(2).toInt
    val spark = Engine.session("local[32]", 32)
    spark.sparkContext.setLogLevel("WARN")

    val offsets = columnOffsets { case (table, key) =>
      Tables(spark, src, table).agg(max(col(key))).head().getAs[Number](0).longValue()
    }

    def shifted(table: String, salt: Option[String] = None): DataFrame = {
      val df = Tables(spark, src, table)
      val offs = offsets.collect { case ((`table`, k), off) => k -> off }
      (0 until copies).map { i =>
        val withKeys = offs.foldLeft(df) { case (d, (k, off)) =>
          // cast back so the scaled table's schema is byte-identical
          d.withColumn(k, (col(k) + lit(off * i)).cast(df.schema(k).dataType))
        }
        salt match {
          case Some(textCol) if i > 0 =>
            withKeys.withColumn(textCol,
              array_join(transform(split(col(textCol), " "),
                t => concat(t, lit(s"_c$i"))), " "))
          case _ => withKeys
        }
      }.reduce(_ unionByName _)
    }

    val plan: Seq[(String, DataFrame)] = Seq(
      "customer" -> shifted("customer"),
      "orders" -> shifted("orders"),
      "lineitem" -> shifted("lineitem"),
      "supplier" -> shifted("supplier"),
      "part" -> shifted("part"),
      "nation" -> Tables(spark, src, "nation"),
      "region" -> Tables(spark, src, "region"),
      "events" -> shifted("events"),
      "documents" -> shifted("documents", salt = Some("text")),
      "embeddings" -> shifted("embeddings"))

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    plan.foreach { case (name, df) =>
      df.coalesce(4).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] wrote $name")
    }
    spark.stop()
  }
}
