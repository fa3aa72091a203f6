package graft.operators

import graft.{Checkpoints, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** x232: sketch-based JOIN-SIZE estimation, certified — the
  * optimizer-adjacent use of count-min the x196 frequency certification
  * set up: the size of a key-equi-join is the inner product of the two
  * sides' degree vectors (here the events user_id SELF-join, so
  * |J| = Σ_u deg(u)² — the F2 frequency moment), and a count-min sketch
  * estimates it as min over rows of Σ_b cell_b² (Alon-Matias-Szegedy /
  * Cormode-Muthukrishnan). This is how a distributed planner prices a
  * join it cannot afford to materialize.
  *
  * Certified, not cited: the output carries the exact join size (one
  * degree aggregate + one sum of squares), each sketch row's estimate,
  * the min, and the overcount in permille. The ONE-SIDED guarantee —
  * every row's estimate >= truth, because colliding keys only ADD
  * cross-terms 2·deg(u)·deg(v) >= 0 — is structural and spec-gated; the
  * overcount magnitude is the measured quantity (expected ~N²/w over
  * random hashing; hash-fixed here, so it is a deterministic regression
  * pin, not a flaky bound).
  *
  * Scale: the corpus is touched ONCE (the per-user degree aggregate,
  * map-side combinable); the sketch is d=3 × w=512 cells built by a
  * second map-side aggregate over the user-sized degree table; the
  * estimates are 512-row sums. Truth costs Σ deg² over the degree table
  * — user-sized, not join-sized: the certification never materializes
  * the join it prices. Sums stay in exact long range (N² / w at sf0.1
  * is ~10^10).
  */
object CmsJoinSize {

  private val W = 512L
  private val D = 3

  private def h60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  def estimate(spark: SparkSession, dir: String): DataFrame = {
    // Materialized (r16): `deg` feeds the sketch AND the exact truth, and
    // `ests` (D rows) feeds three report legs — lazily each re-ran the
    // events aggregate (5 scans / 16 exchanges in one plan).
    val deg = Checkpoints.local(Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("d")))
    val cells = deg.select(explode(array((1 to D).map(i => struct(
        lit(i.toLong).as("r"),
        (h60(concat(lit(s"$i:"), col("user_id").cast("string"))) % W)
          .as("b"),
        col("d"))): _*)).as("x"))
      .select(col("x.r"), col("x.b"), col("x.d"))
      .groupBy("r", "b").agg(sum(col("d")).as("c"))
    val ests = Checkpoints.local(cells.groupBy("r")
      .agg(sum(col("c") * col("c")).as("est")))
    val truth = deg.agg(sum(col("d") * col("d")).as("t"))
    val estMin = ests.agg(min(col("est")).as("m"))
    ests.select(concat(lit("est_row_"), col("r").cast("string")).as("stat"),
        col("est").as("v"))
      .unionByName(truth.select(lit("truth").as("stat"), col("t").as("v")))
      .unionByName(estMin.select(lit("est_min").as("stat"), col("m").as("v")))
      .unionByName(estMin.crossJoin(broadcast(truth))
        .select(lit("overcount_permille").as("stat"),
          expr("(m - t) * 1000 DIV t").as("v")))
      .orderBy("stat")
  }

  private val estimateSql: String = {
    def bSql(i: Int): String =
      s"CAST('0x' || substr(md5('$i:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % $W"
    s"""WITH deg AS (SELECT user_id, count(*) AS d FROM events GROUP BY 1),
       | cells AS (
       |   SELECT r, b, sum(d) AS c FROM (
       |     ${(1 to D).map(i =>
          s"SELECT CAST($i AS BIGINT) AS r, ${bSql(i)} AS b, d FROM deg")
          .mkString(" UNION ALL ")}) x
       |   GROUP BY 1, 2),
       | ests AS (SELECT r, sum(c * c) AS est FROM cells GROUP BY 1),
       | t AS (SELECT sum(d * d) AS t FROM deg),
       | mn AS (SELECT min(est) AS m FROM ests)
       |SELECT stat, CAST(v AS BIGINT) AS v FROM (
       |  SELECT 'est_row_' || CAST(r AS VARCHAR) AS stat, est AS v FROM ests
       |  UNION ALL SELECT 'truth', t FROM t
       |  UNION ALL SELECT 'est_min', m FROM mn
       |  UNION ALL SELECT 'overcount_permille', (m - t) * 1000 // t
       |            FROM mn, t) z
       |ORDER BY stat""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("x232_cms_joinsize", (s, dir) => estimate(s, dir),
      Some(estimateSql)))
}
