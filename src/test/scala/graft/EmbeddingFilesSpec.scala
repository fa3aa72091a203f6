package graft

import graft.operators.{EmbeddingFiles, Similarity, Staging}
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, transform}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** `Similarity.fetchQuery` reads the query row of a bare parquet relation
  * on the driver (`EmbeddingFiles.lookup`): the same floats, and doubles
  * equal to Spark's cast, as a Spark query over the same frame, with no
  * job. Other frames still answer through the Spark query.
  */
class EmbeddingFilesSpec extends SparkSuite {

  private def emb: DataFrame = Tables.embeddings(spark, sfDir)

  /** Every (vec_id -> (floats, Spark's double cast)) of `df`, from one
    * Spark query.
    */
  private def reference(df: DataFrame): Map[Long, (Seq[Float], Seq[Double])] =
    df.select(col("vec_id"), col("embedding"),
        transform(col("embedding"), _.cast("double")))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Float](1), r.getSeq[Double](2))).toMap

  /** Checks the driver read of every id in `df` that `sample` keeps,
    * plus an absent one, against [[reference]], and that none of the
    * reads runs a job.
    */
  private def assertParity(df: DataFrame, sample: Long => Boolean = _ => true): Unit = {
    val ref = reference(df)
    val ids = ref.keys.toSeq.filter(sample)
    assert(ids.size >= 100)
    val (reads, jobs) = jobsOf(ids.map(id => id -> Similarity.fetchQuery(df, id)))
    assert(jobs == 0, s"the driver read ran $jobs jobs")
    reads.foreach { case (id, got) =>
      val (f, d) = got.getOrElse(fail(s"vec_id $id was not found"))
      assert(f.toSeq == ref(id)._1, s"floats of vec_id $id")
      assert(d.toSeq == ref(id)._2, s"doubles of vec_id $id")
    }
    val absent = ref.keys.max + 1
    assert(EmbeddingFiles.lookup(df, absent).contains(None))
    assert(Similarity.fetchQuery(df, absent).isEmpty)
  }

  private def withCopy(write: String => Unit)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_embedding_files_")
    try {
      val path = dir.resolve("emb.parquet").toString
      write(path)
      body(path)
    } finally Staging.deleteTree(dir)
  }

  private def parquetFiles(path: String): Seq[JPath] =
    Files.list(java.nio.file.Paths.get(path)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))

  private def footerSchema(path: String): String = {
    val Seq(file) = parquetFiles(path)
    val in = HadoopInputFile.fromPath(new Path(file.toUri), spark.sparkContext.hadoopConfiguration)
    scala.util.Using.resource(ParquetFileReader.open(in))(_.getFileMetaData.getSchema.toString)
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the driver read of every fixture vec_id equals the Spark fetch; an absent id is None") {
    assert(EmbeddingFiles.lookup(emb, 0L).isDefined, "the fixture was not read on the driver")
    assertParity(emb)
  }

  test("legacy-format copies (3-level bag/array and 2-level repeated float) read the same") {
    val strict = spark.createDataFrame(emb.select("vec_id", "embedding").rdd, StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)))))
    Seq(emb -> "repeated group bag", strict -> "repeated float array").foreach { case (df, layout) =>
      withCopy(p => withConf("spark.sql.parquet.writeLegacyFormat", "true") {
        df.coalesce(1).write.parquet(p)
      }) { path =>
        assert(footerSchema(path).contains(layout), footerSchema(path))
        val copy = Tables.parquet(spark, path)
        assert(EmbeddingFiles.lookup(copy, 0L).isDefined, s"$layout was not read on the driver")
        assertParity(copy)
      }
    }
  }

  test("a multi-row-group copy skips the row groups whose vec_id range excludes the id") {
    // 8 shifted copies of the fixture in 10 row groups of 400 rows. A
    // row-count bound, not a small parquet.block.size: a block size far
    // below the writer's buffer allocation logs "Too much memory used".
    val big = (0 until 8).map(i => emb.select((col("vec_id") + i * 1000).as("vec_id"),
      col("embedding"))).reduce(_.union(_))
    withCopy(p => big.coalesce(1).sortWithinPartitions("vec_id").write
        .option("parquet.block.row.count.limit", 400).parquet(p)) { path =>
      val Seq(file) = parquetFiles(path)
      val in = HadoopInputFile.fromPath(new Path(file.toUri), spark.sparkContext.hadoopConfiguration)
      val groups = scala.util.Using.resource(ParquetFileReader.open(in))(_.getRowGroups.size)
      assert(groups >= 8, s"the copy has $groups row groups")
      val copy = Tables.parquet(spark, path)
      assertParity(copy, _ % 29 == 0)
      // This thread's reads: vectored IO would read on other threads.
      def bytesRead: Long = FileSystem.getAllStatistics.asScala
        .map(_.getThreadStatistics.getBytesRead).sum
      val read = withConf("parquet.hadoop.vectored.io.enabled", "false") {
        val before = bytesRead
        assert(Similarity.fetchQuery(copy, 4250L).isDefined)
        bytesRead - before
      }
      val size = Files.size(file)
      assert(read > 0 && read < size / 4, s"read $read of $size bytes")
    }
  }

  test("an in-memory, checkpointed or projected frame answers through the Spark query") {
    val ref = reference(emb)
    val mem = spark.createDataFrame(emb.collect().toSeq.asJava, emb.schema)
    Seq(mem, emb.localCheckpoint(), emb.select("vec_id", "embedding")).foreach { df =>
      assert(EmbeddingFiles.lookup(df, 5L).isEmpty)
      val (got, jobs) = jobsOf(Similarity.fetchQuery(df, 5L))
      assert(got.map(_._1.toSeq).contains(ref(5L)._1))
      assert(got.map(_._2.toSeq).contains(ref(5L)._2))
      assert(Similarity.fetchQuery(df, ref.keys.max + 1).isEmpty)
      if (!df.eq(mem)) assert(jobs >= 1, "the Spark query ran no job")
    }
  }

  test("a corrupt or missing file fails the driver read") {
    withCopy(p => emb.coalesce(1).write.parquet(p)) { path =>
      val copy = Tables.parquet(spark, path)
      val Seq(file) = parquetFiles(path)
      Files.write(file, Array.fill(Files.size(file).toInt)(7.toByte))
      intercept[Exception](Similarity.fetchQuery(copy, 5L))
      Files.delete(file)
      intercept[java.io.FileNotFoundException](Similarity.fetchQuery(copy, 5L))
    }
  }
}
