package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Similarity, Staging, StoredTables}

/** `StoredTables.getOrBuild`, the one build/adopt lifecycle behind every
  * stored vector index: a committed warehouse dir is adopted without a
  * build, an uncommitted one is rebuilt, a group is adopted whole or
  * rebuilt whole, and concurrent callers build once. The session's
  * warehouse dir is a static conf of the shared test session, so each
  * run uses its own `graft_sttest_<run>_` table families under it (small
  * `range` frames) and drops them afterwards.
  */
class StoredTablesSpec extends SparkSuite {

  private val run = java.util.UUID.randomUUID().toString.take(8)
  private val key = "0123456789abcdef"
  private def family(tag: String): String = s"graft_sttest_${run}_${tag}_"

  /** A committed (`_SUCCESS`) warehouse dir for `name`, not in the catalog. */
  private def commitDir(name: String, rows: Int): Unit =
    spark.range(rows).write.parquet(StoredTables.warehousePath(spark).resolve(name).toString)

  private def rows(name: String): Long = spark.table(name).count()

  /** A build that counts its runs and writes `n` rows into every table. */
  private def counted(builds: AtomicInteger, n: Int,
      buckets: Option[StoredTables.Buckets] = None): Seq[String] => Unit = { names =>
    builds.incrementAndGet()
    names.foreach(StoredTables.save(spark.range(n).toDF("id"), _, buckets))
  }

  override def afterAll(): Unit = {
    StoredTables.sweepStale(spark, s"graft_sttest_${run}_", _ => false)
    super.afterAll()
  }

  test("a committed warehouse dir is adopted without running the build") {
    val p = family("adopt")
    commitDir(p + key, 3)
    assert(!spark.catalog.tableExists(p + key))
    val builds = new AtomicInteger
    val names = StoredTables.getOrBuild(spark, key, p -> None)(counted(builds, 5))
    assert(names == Seq(p + key))
    assert(builds.get == 0, "the build ran although a committed dir was on disk")
    assert(rows(p + key) == 3)
  }

  test("a warehouse dir without _SUCCESS is rebuilt") {
    val p = family("uncommitted")
    commitDir(p + key, 3)
    Files.delete(StoredTables.warehousePath(spark).resolve(p + key).resolve("_SUCCESS"))
    val builds = new AtomicInteger
    StoredTables.getOrBuild(spark, key, p -> None)(counted(builds, 5))
    assert(builds.get == 1)
    assert(rows(p + key) == 5)
  }

  test("a two-table group with one committed member is rebuilt whole, in one build") {
    val (a, b) = (family("pair_a"), family("pair_b"))
    commitDir(a + key, 3)
    val builds = new AtomicInteger
    val names = StoredTables.getOrBuild(spark, key, a -> None, b -> None)(counted(builds, 7))
    assert(names == Seq(a + key, b + key))
    assert(builds.get == 1)
    assert(rows(a + key) == 7, "the committed member was served next to a fresh build")
    assert(rows(b + key) == 7)
  }

  test("4 concurrent getOrBuild calls on one key run the build once") {
    val p = family("race")
    val buckets = Some((2, Seq("id"), Seq("id")))
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map(_ => pool.submit(new Callable[Seq[String]] {
        def call(): Seq[String] = {
          go.await()
          StoredTables.getOrBuild(spark, key, p -> buckets) { names =>
            Thread.sleep(200) // widen the race window
            counted(builds, 4, buckets)(names)
          }
        }
      }))
      go.countDown()
      val got = calls.map(_.get(120, TimeUnit.SECONDS))
      assert(got.distinct == Seq(Seq(p + key)))
    } finally pool.shutdownNow()
    assert(builds.get == 1)
    assert(rows(p + key) == 4)
  }

  test("a cold ivfTopKStored build leaves none of its checkpoints pinned") {
    // A private copy of the corpus file: a fresh content key, so the call
    // below trains and writes the IVF tables instead of finding them.
    val dir = Files.createTempDirectory("graft_sttest_ivf_")
    try {
      Files.copy(Paths.get(sfDir, "embeddings.parquet"), dir.resolve("embeddings.parquet"))
      val emb = Tables.embeddings(spark, dir.toString)
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val top = Similarity.ivfTopKStored(spark, emb, dir.toString, 0L, 10)
      val pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(pinned.isEmpty,
        s"the build left ${pinned.size} persisted RDD(s): ${pinned.toSeq.sorted.mkString(", ")}")
      assert(top.collect().length == 10)
    } finally {
      Seq("graft_ivf_cells_", "graft_ivf_cents_")
        .foreach(StoredTables.sweepStale(spark, _, _ => false))
      Staging.deleteTree(dir)
    }
  }
}
