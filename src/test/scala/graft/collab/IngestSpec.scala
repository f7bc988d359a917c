package graft.collab

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IngestSpec extends SparkSpec {
  private val csv = getClass.getResource("/ratings.csv").getPath

  test("CSV parse yields 120 rows with the declared 4-column projection") {
    val parsed = Ingest.parseCsv(spark, csv)
    assert(parsed.count() === 120)
    assert(parsed.columns.toSeq === Seq("set", "user", "product", "rating"))
  }

  test("I/V split matches the reference counts: 111 train / 9 validation") {
    val parsed = Ingest.parseCsv(spark, csv).cache()
    assert(Ingest.selectSet(parsed, Schemas.TrainTag).count() === 111)
    assert(Ingest.selectSet(parsed, Schemas.ValidationTag).count() === 9)
    parsed.unpersist()
  }

  test("domain facts: 20 users x 6 products, ratings in {1,2,4,5}") {
    val parsed = Ingest.parseCsv(spark, csv).cache()
    val users = parsed.select("user").distinct().count()
    val products = parsed.select("product").distinct().count()
    val ratings = parsed.select("rating").distinct()
      .collect().map(_.getDouble(0)).toSet
    assert(users === 20)
    assert(products === 6)
    assert(ratings === Set(1.0, 2.0, 4.0, 5.0))
    parsed.unpersist()
  }

  test("malformed numeric field throws (ANSI cast ≙ reference parseInt throw)") {
    val tmp = java.nio.file.Files.createTempFile("bad", ".csv")
    java.nio.file.Files.writeString(tmp, "I,1,notanint,3.0\n")
    val ex = intercept[Exception] {
      Ingest.parseCsv(spark, tmp.toString).collect()
    }
    assert(ex.getMessage != null)
  }

  test("withRowId attaches a unique uuid id column") {
    val parsed = Ingest.parseCsv(spark, csv)
    val withId = Ingest.withRowId(Ingest.selectSet(parsed, "I"))
    assert(withId.columns.toSeq === Seq("id", "user", "product", "rating"))
    assert(withId.select("id").distinct().count() === 111)
  }

  test("a second populate, of a new batch into a fresh store, compiles no " +
      "new code: the row-id expression is codegen-stable") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest")
    try {
      def round(n: Int): Unit = {
        val batch = dir.resolve(s"ratings-$n.csv")
        java.nio.file.Files.copy(java.nio.file.Paths.get(csv), batch)
        Ingest.populate(spark, new ParquetTableStore(spark, s"$dir/wh-$n"),
          batch.toString)
      }
      round(1)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      round(2)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiled)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}

class TableStoreSpec extends SparkSpec {
  import spark.implicits._

  test("create/append/scan/truncate round-trip") {
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new ParquetTableStore(spark, root)
    store.create("ratings", Schemas.ratingSchema)
    assert(store.scan("ratings").count() === 0)

    val df = Seq(Rating(1, 1, 4.0), Rating(2, 3, 5.0)).toDF()
    store.append("ratings", df)
    assert(store.scan("ratings").count() === 2)
    store.append("ratings", df)
    assert(store.scan("ratings").count() === 4)

    store.truncate("ratings")
    assert(store.scan("ratings").count() === 0)
  }

  test("schema mismatch on append is rejected") {
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new ParquetTableStore(spark, root)
    store.create("ratings", Schemas.ratingSchema)
    intercept[IllegalArgumentException] {
      store.append("ratings", Seq((1, "x")).toDF("user", "junk"))
    }
  }

  test("addColumn schema evolution: no file rewrite, old rows read null, " +
      "new appends carry the column, V2 reads see it immediately") {
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("store-evo").toString
    val store = new ParquetTableStore(spark, root)
    store.create("ratings", Schemas.ratingSchema)
    store.append("ratings", Seq(Rating(1, 1, 4.0), Rating(2, 3, 5.0)).toDF())
    val filesBefore = new java.io.File(s"$root/ratings").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet

    store.addColumn("ratings", StructField("score", DoubleType, nullable = true))
    // data files untouched; old rows read back null for the new column
    assert(new java.io.File(s"$root/ratings").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).toSet === filesBefore)
    val scanned = store.scan("ratings")
    assert(scanned.columns.toSeq === Seq("user", "product", "rating", "score"))
    assert(scanned.filter(col("score").isNull).count() === 2)

    // new-schema appends carry values; old-schema appends fail fast
    store.append("ratings",
      Seq((7, 2, 1.0, 0.9)).toDF("user", "product", "rating", "score"))
    assert(store.scan("ratings").filter(col("score") === 0.9).count() === 1)
    intercept[IllegalArgumentException] {
      store.append("ratings", Seq(Rating(9, 9, 2.0)).toDF())
    }
    // a second instance (sidecar only) and the V2 source both see it
    assert(new ParquetTableStore(spark, root).scan("ratings")
      .columns.contains("score"))
    assert(spark.read.format("graft").option("root", root)
      .option("table", "ratings").load().columns.contains("score"))
    // duplicate / non-nullable additions rejected
    intercept[IllegalArgumentException] {
      store.addColumn("ratings", StructField("score", DoubleType))
    }
    intercept[IllegalArgumentException] {
      store.addColumn("ratings", StructField("x", IntegerType, nullable = false))
    }
  }

  test("_schema.json sidecar lets a fresh store instance scan an empty " +
      "table it didn't create (cross-JVM recovery)") {
    val root = java.nio.file.Files.createTempDirectory("store").toString
    new ParquetTableStore(spark, root).create("ratings", Schemas.ratingSchema)
    // a second instance has no in-memory declaration — only the sidecar
    val other = new ParquetTableStore(spark, root)
    val scanned = other.scan("ratings")
    assert(scanned.count() === 0)
    // name+type comparison: Spark file sources force nullable=true on a
    // user-supplied read schema, same contract append() enforces
    assert(scanned.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      Schemas.ratingSchema.fields.map(f => (f.name, f.dataType)).toSeq)
  }
}
