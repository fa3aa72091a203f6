package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Naming and lifecycle for PERSISTED index tables (x252/x253/x254/x255).
  *
  * r14 advice #1: the first rendering keyed tables by a 32-bit
  * `java.util.Objects.hash` of (dir, size, mtime, params) — a collision
  * across corpora/param sets would make `tableExists` hit and silently
  * serve a stale index built for DIFFERENT data (wrong neighbors, no
  * error), stale versions accumulated unboundedly, and the pre-create
  * cleanup hardcoded `spark-warehouse/` (missing a non-default
  * `spark.sql.warehouse.dir`). This helper fixes all three:
  *
  *  - [[contentKey]] is the first 64 bits of an MD5 over the NUL-joined
  *    key tuple — full-width content hashing, so a cross-corpus collision
  *    needs ~2^32 distinct corpus versions in ONE metastore, not the
  *    ~2^16 of a 32-bit hash (and unlike Objects.hash, the input strings
  *    are length-delimited, so no tuple aliasing).
  *  - [[warehousePath]] resolves the on-disk location from the session's
  *    actual `spark.sql.warehouse.dir`.
  *  - [[sweepStale]] drops same-prefix tables carrying a different key
  *    before a build, so the metastore holds at most ONE live version per
  *    index family — growth bounded at "current corpus", the compaction a
  *    table format would do for us.
  *
  * [[getOrBuild]] is the one build/adopt lifecycle every stored index
  * goes through.
  */
private[graft] object StoredTables {

  /** saveAsTable bucket layout: (buckets, bucket-by columns, sort columns). */
  type Buckets = (Int, Seq[String], Seq[String])

  /** Runs `body` under the one build lock when any of `names` is missing
    * from this JVM's catalog: one unlocked `tableExists` per table (the
    * serving fast path), re-checked under the lock so concurrent callers
    * build once.
    */
  def whenMissing(spark: SparkSession, names: Seq[String])(body: => Unit): Unit =
    if (!names.forall(spark.catalog.tableExists)) synchronized {
      if (!names.forall(spark.catalog.tableExists)) body
    }

  /** The stored-index lifecycle: returns the names (`prefix + key`, in
    * order) of a group of tables that are then in this JVM's catalog.
    * When one is missing, under the build lock: other-key versions of
    * each family are swept, a committed build on disk is adopted for the
    * WHOLE group or for none of it (a group member must never serve next
    * to a member from a different build), and otherwise every member is
    * dropped and `build` runs once with the names.
    */
  def getOrBuild(spark: SparkSession, key: String, tables: (String, Option[Buckets])*)(
      build: Seq[String] => Unit): Seq[String] = {
    val names = tables.map { case (prefix, _) => prefix + key }
    whenMissing(spark, names) {
      tables.foreach { case (prefix, _) => sweepStale(spark, prefix, _ == prefix + key) }
      if (!tables.forall { case (prefix, b) => adoptFromDisk(spark, prefix + key, b) }) {
        names.foreach(dropTable(spark, _)) // also unregisters a half-adopted member
        build(names)
      }
    }
    names
  }

  /** Writes `df` as table `name` with the layout [[adoptFromDisk]] later
    * re-registers it under.
    */
  def save(df: DataFrame, name: String, buckets: Option[Buckets]): Unit = {
    val w = df.write.mode("overwrite")
    buckets.fold(w) { case (n, by, sort) =>
      w.bucketBy(n, by.head, by.tail: _*).sortBy(sort.head, sort.tail: _*)
    }.saveAsTable(name)
  }

  /** 64-bit content key over the key tuple (corpus path, size, mtime,
    * params...), hex-encoded. NUL join: no field can contain NUL (paths,
    * numbers), so distinct tuples cannot alias.
    */
  def contentKey(parts: Any*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = md.digest(
      parts.mkString("\u0000").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    digest.take(8).map(b => f"$b%02x").mkString
  }

  /** The session's warehouse directory as a local path ("file:" URI or
    * bare path — the two local-mode renderings).
    */
  def warehousePath(spark: SparkSession): java.nio.file.Path = {
    val raw = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    val uri = java.net.URI.create(raw)
    if (uri.getScheme == null) java.nio.file.Paths.get(raw)
    else java.nio.file.Paths.get(uri)
  }

  /** DROP the table and clear its warehouse directory — a fresh derby
    * metastore doesn't know tables from previous JVMs, and DROP alone
    * leaves stale dirs that make the next saveAsTable fail (the
    * BucketingSpec lifecycle).
    */
  def dropTable(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    org.apache.commons.io.FileUtils.deleteQuietly(
      warehousePath(spark).resolve(name).toFile)
  }

  /** Register a COMMITTED on-disk warehouse directory as this JVM's
    * catalog table instead of rebuilding it (r15 advice #3: the session
    * catalog is in-memory per-JVM while the warehouse persists, so every
    * fresh JVM paid a full rebuild/re-stream of indexes that were already
    * on disk). Committed = the Hadoop committer's `_SUCCESS` marker is
    * present — a crashed half-written saveAsTable dir has none and is
    * rebuilt. Returns true when the table is now queryable.
    *
    * The registration is a `CREATE TABLE ... USING PARQUET [CLUSTERED BY
    * ...] LOCATION` over the existing files: saveAsTable-written bucket
    * files carry their bucket id in the filename (`..._00003.c000...`),
    * which Spark's bucketed reader parses — so the adopted table prunes
    * buckets exactly like the original (Round19/20Spec assert
    * SelectedBucketsCount on adopted tables too).
    */
  def adoptFromDisk(spark: SparkSession, name: String,
      buckets: Option[Buckets] = None): Boolean = {
    if (spark.catalog.tableExists(name)) return true
    val dir = warehousePath(spark).resolve(name)
    if (!java.nio.file.Files.isRegularFile(dir.resolve("_SUCCESS")))
      return false
    val schema =
      try spark.read.parquet(dir.toString).schema.toDDL
      catch { case _: Throwable => return false } // unreadable → rebuild
    val bucketClause = buckets.map { case (n, by, sort) =>
      s"CLUSTERED BY (${by.mkString(", ")}) " +
        s"SORTED BY (${sort.mkString(", ")}) INTO $n BUCKETS "
    }.getOrElse("")
    spark.sql(s"CREATE TABLE `$name` ($schema) USING PARQUET " +
      bucketClause + s"LOCATION '${dir.toUri}'")
    true
  }

  /** Drop every catalog table starting with `prefix` that `keep` rejects —
    * called before a build so stale versions (old corpus mtimes, old
    * params) leave instead of accumulating one table per corpus version.
    * ALSO sweeps same-prefix ORPHANED warehouse directories: the session
    * catalog is in-memory (per-JVM) while the warehouse persists on disk,
    * so a previous JVM's tables are invisible to listTables yet their
    * dirs make this JVM's saveAsTable fail with LOCATION_ALREADY_EXISTS.
    */
  def sweepStale(spark: SparkSession, prefix: String,
      keep: String => Boolean): Unit = {
    spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith(prefix) && !keep(n))
      .foreach(dropTable(spark, _))
    Option(warehousePath(spark).toFile.listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix) && !keep(f.getName))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }
}
