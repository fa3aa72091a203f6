package graft.operators

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** x231: Bloom-filter certification — the third sketch-law proof beside
  * x196 (count-min) and x224 (KMV bottom-k), and the HASH-GATED
  * complement of x103's invariant-gated screen: x103 uses Spark's opaque
  * `stat.bloomFilter` bits (engine-specific, so only superset/
  * no-false-negative invariants can gate it); here the filter is built
  * RELATIONALLY from md5-derived bit positions, so DuckDB replays the
  * exact bit set and the hash gate certifies every number — set-bit
  * count, per-source merge (OR) law, zero false negatives, the measured
  * false-positive count on a structurally-disjoint probe set, and the
  * fill-ratio FPR bound the measurement is compared against.
  *
  * Construction: member set = distinct event users; k = 3 bit positions
  * per key from independent md5 slices (h_i = md5("i:" || key) mod m,
  * m = 65536); probes = "p:" || key — string-disjoint from every member
  * by construction, so every probe hit is a certified false positive.
  * The merge law is the production property (build per-source filters,
  * OR them): bits(all users) must equal the union of per-event-type bit
  * sets, certified by a bidirectional anti-join count.
  *
  * Scale: the only corpus-sized passes are two distinct aggregates
  * (users; (type, user) pairs) — map-side combinable; everything after
  * is bounded by m (65536 bit rows) and the user count. The integer FPR
  * bound fill³·1000 DIV m³ stays in exact long range (m³ ≈ 2.8e14).
  */
object BloomFilterCert {

  private val M = 65536L
  private val K = 3

  private def h60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  private def bitOf(i: Int, key: Column): Column =
    h60(concat(lit(s"$i:"), key)) % M

  private def bitsOf(keys: DataFrame, keyCol: String): DataFrame =
    keys.select(explode(array((1 to K).map(i =>
      bitOf(i, col(keyCol))): _*)).as("bit")).distinct()

  def certify(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val users = ev.select(col("user_id").cast("string").as("k")).distinct()
    val bits = Checkpoints.local(bitsOf(users, "k"))

    // Merge (OR) law: union of per-source bit sets == bits of all users.
    val perSrc = ev.select(col("event_type"),
        col("user_id").cast("string").as("k")).distinct()
    val srcBits = perSrc.select(explode(array((1 to K).map(i =>
      bitOf(i, col("k"))): _*)).as("bit")).distinct()
    // Exact set equality via two anti-joins (a full-outer on the single
    // shared column would collapse it and hide which side leaked).
    val diff = bits.join(srcBits, Seq("bit"), "left_anti").count() +
      srcBits.join(bits, Seq("bit"), "left_anti").count()

    // Membership probe: key present iff ALL K bits are set.
    def presentCount(keys: DataFrame): DataFrame =
      keys.select(col("k"), explode(array((1 to K).map(i =>
          bitOf(i, col("k"))): _*)).as("bit"))
        .join(bits, Seq("bit"), "left_semi")
        .groupBy("k").agg(count(lit(1)).as("present"))

    val falseNeg = users.join(
        presentCount(users).filter(col("present") === K), Seq("k"),
        "left_anti").count()
    val probes = users.select(concat(lit("p:"), col("k")).as("k"))
    val fp = presentCount(probes).filter(col("present") === K).count()

    val n = users.count()
    val b = bits.count()
    import spark.implicits._
    Seq(
      ("false_neg", falseNeg),
      ("false_pos", fp),
      ("fpr_bound_permille", b * b * b * 1000L / (M * M * M)),
      ("fpr_permille", fp * 1000L / n),
      ("merge_bits_diff", diff),
      ("n_bits_set", b),
      ("n_members", n),
      ("n_probes", n))
      .toDF("stat", "v").orderBy("stat")
  }

  private val certifySql: String = {
    def bitSql(i: Int, key: String): String =
      s"CAST('0x' || substr(md5('$i:' || $key), 1, 15) AS BIGINT) % $M"
    def bitsSql(src: String, key: String): String =
      (1 to K).map(i => s"SELECT DISTINCT ${bitSql(i, key)} AS bit FROM $src")
        .mkString(" UNION ")
    s"""WITH users AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS k
       |               FROM events),
       | bits AS (${bitsSql("users", "k")}),
       | su AS (SELECT DISTINCT event_type,
       |               CAST(user_id AS VARCHAR) AS k FROM events),
       | srcbits AS (${bitsSql("su", "k")}),
       | diff AS (
       |   SELECT (SELECT count(*) FROM bits
       |           WHERE bit NOT IN (SELECT bit FROM srcbits))
       |        + (SELECT count(*) FROM srcbits
       |           WHERE bit NOT IN (SELECT bit FROM bits)) AS d),
       | mpresent AS (
       |   SELECT k, count(*) AS present FROM (
       |     ${(1 to K).map(i =>
            s"SELECT k, ${bitSql(i, "k")} AS bit FROM users")
            .mkString(" UNION ALL ")}) mb
       |   WHERE bit IN (SELECT bit FROM bits) GROUP BY 1),
       | fneg AS (SELECT count(*) AS v FROM users
       |          WHERE k NOT IN (SELECT k FROM mpresent WHERE present = $K)),
       | probes AS (SELECT 'p:' || k AS k FROM users),
       | ppresent AS (
       |   SELECT k, count(*) AS present FROM (
       |     ${(1 to K).map(i =>
            s"SELECT k, ${bitSql(i, "k")} AS bit FROM probes")
            .mkString(" UNION ALL ")}) pb
       |   WHERE bit IN (SELECT bit FROM bits) GROUP BY 1),
       | fpos AS (SELECT count(*) AS v FROM ppresent WHERE present = $K),
       | nb AS (SELECT count(*) AS v FROM bits),
       | nu AS (SELECT count(*) AS v FROM users)
       |SELECT stat, CAST(v AS BIGINT) AS v FROM (
       |  SELECT 'false_neg' AS stat, (SELECT v FROM fneg) AS v
       |  UNION ALL SELECT 'false_pos', (SELECT v FROM fpos)
       |  UNION ALL SELECT 'fpr_bound_permille',
       |    (SELECT v FROM nb) * (SELECT v FROM nb) * (SELECT v FROM nb)
       |      * 1000 // (CAST($M AS BIGINT) * $M * $M)
       |  UNION ALL SELECT 'fpr_permille',
       |    (SELECT v FROM fpos) * 1000 // (SELECT v FROM nu)
       |  UNION ALL SELECT 'merge_bits_diff', (SELECT d FROM diff)
       |  UNION ALL SELECT 'n_bits_set', (SELECT v FROM nb)
       |  UNION ALL SELECT 'n_members', (SELECT v FROM nu)
       |  UNION ALL SELECT 'n_probes', (SELECT v FROM nu)) t
       |ORDER BY stat""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("x231_bloom_certify", (s, dir) => certify(s, dir),
      Some(certifySql)))
}
