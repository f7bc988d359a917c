package graft.tools

import graft.ops.{Bucketing, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

/** Runnable evidence for the bucketed co-located join: prints whether the
  * executed plan contains exchanges for the bucketed join vs the plain
  * join. `sbt "runMain graft.tools.BucketingDemo [sfDir]"` */
object BucketingDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // The session catalog is in-memory but the managed tables' files land
    // in the default warehouse: a crashed run leaves files the next
    // run's catalog does not know, and saveAsTable then refuses the
    // location. Clear them first; DROP them however this run ends.
    val tables = Seq("li_b", "o_b")
    val warehouse = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    tables.foreach(t => fs.delete(new Path(warehouse, t), true))
    try {
      Bucketing.writeBucketed(Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_quantity"), "li_b", "l_orderkey")
      Bucketing.writeBucketed(Tables.orders(spark, dir)
        .select("o_orderkey", "o_totalprice"), "o_b", "o_orderkey")

      val bucketed = Bucketing.bucketedEquiJoin(spark, "li_b", "o_b",
        "l_orderkey", "o_orderkey")
      val bPlan = bucketed.queryExecution.executedPlan.toString
      println(s"bucketed join:   exchanges=${bPlan.contains("Exchange")} " +
        s"smj=${bPlan.contains("SortMergeJoin")} rows=${bucketed.count()}")

      val plain = Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity")
        .join(Tables.orders(spark, dir).select("o_orderkey", "o_totalprice"),
          col("l_orderkey") === col("o_orderkey"))
      val pPlan = plain.queryExecution.executedPlan.toString
      println(s"plain join:      exchanges=${pPlan.contains("Exchange")} " +
        s"rows=${plain.count()}")
    } finally {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.stop()
    }
  }
}
