package graft.ingest

import graft.SparkSpec
import graft.ingest.TinyParquet._

/** TinyParquet is the driver-side vehicle for the engine's bounded
  * state manifests; its files must stay interchangeable with what
  * Spark's parquet source writes and reads — both directions — or a
  * manifest written by one path would silently desync a reader on the
  * other.
  */
class TinyParquetSpec extends SparkSpec {

  private val conf = spark.sparkContext.hadoopConfiguration

  private val cols = Seq(IntCol("i"), LongCol("l"), DoubleCol("d"),
    StringCol("s"), DoubleArrayCol("da"), LongArrayCol("la"))
  private val rows: Seq[Seq[Any]] = Seq(
    Seq(1, 2L, 3.5, "a", Seq(1.0, -0.0, 2.25), Seq(7L, 8L)),
    Seq(-4, Long.MaxValue, -1.25e300, "", Seq.empty[Double], Seq(0L)))

  test("spark.read.parquet reads a TinyParquet-written manifest value-exactly") {
    val dir = tmpDir("tinyparquet_w").toString
    TinyParquet.write(dir, conf, cols, rows)
    val back = spark.read.parquet(dir).orderBy("i").collect()
    assert(back.length == 2)
    val r = back.find(_.getInt(0) == 1).get
    assert(r.getLong(1) == 2L && r.getDouble(2) == 3.5 && r.getString(3) == "a")
    assert(r.getSeq[Double](4) == Seq(1.0, -0.0, 2.25))
    assert(r.getSeq[Long](5) == Seq(7L, 8L))
    val r2 = back.find(_.getInt(0) == -4).get
    assert(r2.getLong(1) == Long.MaxValue && r2.getDouble(2) == -1.25e300)
    assert(r2.getString(3) == "" && r2.getSeq[Double](4).isEmpty &&
      r2.getSeq[Long](5) == Seq(0L))
  }

  test("TinyParquet reads a Spark-written manifest value-exactly (old state dirs)") {
    import spark.implicits._
    val dir = tmpDir("tinyparquet_r").toString
    Seq((16, 8, Seq(0.5, 1.5), "hll"), (17, 9, Seq(2.5), "cms"))
      .toDF("a", "b", "v", "k")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val got = TinyParquet.read(dir, conf,
        Seq(IntCol("a"), IntCol("b"), DoubleArrayCol("v"), StringCol("k")))
      .sortBy(_.head.asInstanceOf[Int])
    assert(got == Seq(
      Seq(16, 8, Seq(0.5, 1.5), "hll"),
      Seq(17, 9, Seq(2.5), "cms")))
  }

  test("write replaces: a second write leaves exactly the new rows") {
    val dir = tmpDir("tinyparquet_o").toString
    TinyParquet.write(dir, conf, Seq(IntCol("x")), Seq(Seq(1), Seq(2)))
    TinyParquet.write(dir, conf, Seq(IntCol("x")), Seq(Seq(9)))
    assert(TinyParquet.read(dir, conf, Seq(IntCol("x"))) == Seq(Seq(9)))
    assert(spark.read.parquet(dir).collect().map(_.getInt(0)).toSeq == Seq(9))
  }

  test("footer schema helper: the schema spark.read.parquet infers, from one footer") {
    import spark.implicits._
    val root = tmpDir("tinyparquet_schema")
    // a Spark-written batch table of a saved index (non-nullable band
    // literals, array<string> shingles) and the TinyParquet-written
    // train_ids manifest (no Spark row metadata: converter path)
    val nd = root.resolve("nd").toString
    graft.operators.Dedup.saveNearDupIndex(
      Seq((1L, "a b c d e"), (2L, "f g h i j")).toDF("doc_id", "text"), nd)
    val b0 = FileUtils.listSubdirs(Generations.currentBatchesDir(nd, conf), conf).head
    val vi = root.resolve("vi").toString
    val r = new java.util.Random(1)
    graft.operators.VectorIndex.saveVectorIndex((0L until 40L)
      .map(i => (i, Seq.fill(64)(r.nextGaussian()))).toDF("vec_id", "embedding"), vi)
    // Spark reads every file-source column as nullable, nested ones too
    import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
    def nullable(t: DataType): DataType = t match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case o => o
    }
    for (p <- Seq(s"$b0/bands", s"$b0/shingles", s"$vi/train_ids")) {
      val inferred = spark.read.parquet(p).schema
      assert(readSpark(spark, p).schema == inferred, p)
      assert(sparkSchema(spark, Seq(p)).map(nullable).contains(inferred), p)
      assert(readSpark(spark, p).collect().toSet == spark.read.parquet(p).collect().toSet, p)
    }
    // no data file: Spark's own read, and its own error
    val empty = root.resolve("empty").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(empty))
    assert(sparkSchema(spark, Seq(empty)).isEmpty)
    intercept[org.apache.spark.sql.AnalysisException](readSpark(spark, empty))
    FileUtils.rmr(root.toString, conf)
  }
}
