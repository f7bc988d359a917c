package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derives a ×N replica of a driver testdata directory for scale-escalation
  * measurement (BENCH.md): each fact table is unioned `copies` times with
  * surrogate keys offset per copy, dimension tables (region, nation) stay
  * fixed — the TPC-H scaling shape. Document text gets a tiny per-copy tail
  * marker so digests/shingles differ across copies and the corpus keeps a
  * realistic near-dup structure instead of 10 exact copies of everything;
  * embeddings replicate as-is (ANN cost scales with N either way).
  *
  * This produces MEASUREMENT data only — correctness stays gated on the
  * driver's own sf0.01 tables. Usage:
  *   sbt "runMain graft.tools.ScaleUp [srcDir] [dstDir] [copies]"
  */
object ScaleUp {
  private val Off = 1000000000L // beyond any base key; keeps copies disjoint

  /** Copy `i` of the documents table. The n_chars increment must track the
    * ACTUAL suffix length — " c10" is 4 chars, not 3 — or the replica
    * silently breaks the base data's n_chars == length(text) invariant for
    * copies >= 10 (caught by the first ×30 sweep that crossed n_chars with
    * parsed text bytes: mm_video_meta's mdat off-by-one at copy 10).
    * Exposed for the ScaleUp regression spec. */
  private[tools] def documentsCopy(d: DataFrame, i: Int): DataFrame = {
    val s = d.withColumn("doc_id", col("doc_id") + lit(i * Off))
    if (i == 0) s
    else s.withColumn("text", concat(col("text"), lit(s" c$i")))
      .withColumn("n_chars", col("n_chars") + lit((2 + s"$i".length).toLong))
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session()
    // the events table's TIMESTAMP(NANOS) column reads as BIGINT nanos,
    // same as graft.ops.Tables.events; the replica stores plain INT64
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def replicate(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      (0 until copies).map(i => f(base, i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      ()
    }
    def shift(c: String, i: Int)(df: DataFrame): DataFrame =
      df.withColumn(c, col(c) + lit(i * Off))

    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    replicate("customer") { (d, i) => shift("c_custkey", i)(d) }
    replicate("supplier") { (d, i) => shift("s_suppkey", i)(d) }
    replicate("part") { (d, i) => shift("p_partkey", i)(d) }
    replicate("orders") { (d, i) =>
      shift("o_orderkey", i)(shift("o_custkey", i)(d))
    }
    replicate("lineitem") { (d, i) =>
      shift("l_orderkey", i)(shift("l_partkey", i)(shift("l_suppkey", i)(d)))
    }
    // more users over the same period: ids shift, timestamps don't
    replicate("events") { (d, i) =>
      shift("event_id", i)(shift("user_id", i)(d))
    }
    replicate("documents")(documentsCopy)
    replicate("embeddings") { (d, i) => shift("vec_id", i)(d) }

    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      println(s"$t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}
