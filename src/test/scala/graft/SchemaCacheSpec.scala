package graft

import graft.operators.Staging
import java.nio.file.Files

/** `Tables.table`'s content-keyed caches: a warm read of unchanged files
  * returns the same resolved relation and runs no job, a rewrite is
  * resolved and inferred again, the inference confs are part of the key,
  * and no session is served another session's relation.
  */
class SchemaCacheSpec extends SparkSuite {

  test("a warm read runs no job; a rewritten table is inferred again") {
    val dir = Files.createTempDirectory("graft_schema_cache_")
    try {
      val path = dir.resolve("t.parquet").toString
      spark.range(3).toDF("a").write.parquet(path)
      assert(Tables.table(spark, dir.toString, "t").schema.fieldNames.toSeq == Seq("a"))
      val (warm, jobs) = jobsOf(Tables.table(spark, dir.toString, "t"))
      assert(jobs == 0, s"a warm read ran $jobs jobs")
      assert(warm.schema.fieldNames.toSeq == Seq("a"))

      spark.range(3).selectExpr("CAST(id AS STRING) AS b")
        .write.mode("overwrite").parquet(path)
      val (fresh, inferred) = jobsOf(Tables.table(spark, dir.toString, "t"))
      assert(fresh.schema.fieldNames.toSeq == Seq("b"),
        s"a rewritten table served its old schema: ${fresh.schema}")
      assert(inferred >= 1, "a rewritten table was not inferred again")
      assert(fresh.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1", "2"))
    } finally Staging.deleteTree(dir)
  }

  test("a warm read returns the cached relation; a rewrite or another session gets its own") {
    val dir = Files.createTempDirectory("graft_schema_cache_")
    try {
      val path = dir.resolve("t.parquet").toString
      spark.range(3).toDF("a").write.parquet(path)
      val first = Tables.table(spark, dir.toString, "t")
      val (warm, jobs) = jobsOf(Tables.table(spark, dir.toString, "t"))
      assert(warm eq first, "a warm read resolved the data source again")
      assert(jobs == 0, s"a warm read ran $jobs jobs")

      val other = spark.newSession()
      val theirs = Tables.table(other, dir.toString, "t")
      assert(theirs ne first, "another session was served this session's relation")
      assert(theirs.sparkSession eq other)
      assert(Tables.table(other, dir.toString, "t") eq theirs)
      assert(Tables.table(spark, dir.toString, "t") eq first)

      spark.range(4).toDF("a").write.mode("overwrite").parquet(path)
      val fresh = Tables.table(spark, dir.toString, "t")
      assert(fresh ne first, "a rewritten table served its old relation")
      assert(fresh.count() == 4)
    } finally Staging.deleteTree(dir)
  }

  test("rewriting a file in a nested directory changes the content key") {
    val dir = Files.createTempDirectory("graft_schema_cache_")
    try {
      val path = dir.resolve("t.parquet").toString
      spark.range(4).selectExpr("id AS a", "id % 2 AS p").write.partitionBy("p").parquet(path)
      val first = Tables.table(spark, dir.toString, "t")
      assert(Tables.table(spark, dir.toString, "t") eq first)
      spark.range(5).toDF("a").write.mode("overwrite").parquet(s"$path/p=1")
      val fresh = Tables.table(spark, dir.toString, "t")
      assert(fresh ne first, "a rewrite under p=1/ served the old relation")
      assert(fresh.count() == 7)
    } finally Staging.deleteTree(dir)
  }

  test("nanosAsLong true and false are separate cache entries") {
    val dir = Files.createTempDirectory("graft_schema_cache_")
    try {
      spark.range(3).toDF("a").write.parquet(dir.resolve("t.parquet").toString)
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val on = spark.newSession()
      val off = spark.newSession()
      on.conf.set(key, "true")
      off.conf.set(key, "false")
      def jobs(s: org.apache.spark.sql.SparkSession): Int =
        jobsOf(Tables.table(s, dir.toString, "t"))._2
      assert(jobs(on) >= 1, "the first read was not inferred")
      assert(jobs(on) == 0, "a warm read under nanosAsLong=true ran a job")
      assert(jobs(off) >= 1, "nanosAsLong=false was served the nanosAsLong=true entry")
      assert(jobs(off) == 0, "a warm read under nanosAsLong=false ran a job")
      assert(jobs(on) == 0, "the nanosAsLong=true entry was lost")
    } finally Staging.deleteTree(dir)
  }

  test("a warm events read infers nothing") {
    Tables.events(spark, sfDir)
    val (events, jobs) = jobsOf(Tables.events(spark, sfDir))
    assert(jobs == 0, s"a warm events read ran $jobs jobs")
    assert(events.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
  }
}
