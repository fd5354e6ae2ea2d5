package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables
import graft.util.Det

/** Classic decision-support shapes over the TPC-H-ish fixture tables — the
  * queries a reference user's BI layer issues verbatim. They earn their
  * place by exercising the optimizer paths the synthetic micro-queries
  * don't compose: a 3-table selective star join feeding a top-k
  * (Q3-shaped), value-based window ranks, and the single-pass integer
  * moment sketch that replaces multi-pass variance/correlation scans.
  *
  * Scale notes: q_tpch_q3 broadcasts the filtered customer keys (the only
  * small side), shuffles orders⋈lineitem on the fact key once, and ends in
  * `TakeOrderedAndProject` — no global sort. q_percent_rank windows are
  * partitioned by priority (parallel per group, never SinglePartition).
  * q_moments is one hash-aggregate with map-side partials; every moment is
  * an exact BIGINT so partial aggregation is lossless (at 100 TB the same
  * sums need DECIMAL(38) — noted inline).
  */
object Tpch {

  /** Q3 cutoff date: orders strictly before, shipments strictly after. */
  val Q3Date = "1998-06-01"
  val Q3Segment = "BUILDING"

  /** q_tpch_q3 — shipping-priority: the 10 highest-revenue undelivered
    * orders in one market segment. Revenue is exact integer micro-cents:
    * `cents(extendedprice) * (100 - discount_pct)` — both factors integers,
    * so Spark and DuckDB agree bit-for-bit (a double `price*(1-disc)` sum
    * would drift in the last ulp across engines/orders).
    */
  def tpchQ3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === Q3Segment)
      .select($"c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(to_date($"o_orderdate") < lit(Q3Date))
      .select($"o_orderkey", $"o_custkey", to_date($"o_orderdate").as("o_date"))
    val li = Tables.lineitem(spark, dir)
      .filter(to_date($"l_shipdate") > lit(Q3Date))
      .select($"l_orderkey",
        (Det.cents($"l_extendedprice") *
          (lit(100L) - round($"l_discount" * 100).cast("long"))).as("rev_ucents"))
    ord.join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(li, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey", $"o_date")
      .agg(sum($"rev_ucents").as("revenue_ucents"), count(lit(1)).as("n_lines"))
      .orderBy($"revenue_ucents".desc, $"o_orderkey")
      .limit(10)
  }

  val tpchQ3Sql: String =
    s"""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
       | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
       |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_ucents,
       | count(*) AS n_lines
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = '$Q3Segment'
       |  AND CAST(o_orderdate AS DATE) < DATE '$Q3Date'
       |  AND CAST(l_shipdate AS DATE) > DATE '$Q3Date'
       |GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
       |ORDER BY revenue_ucents DESC, o_orderkey
       |LIMIT 10""".stripMargin

  /** q_percent_rank — percent_rank + cume_dist of order value within each
    * priority class. Both are single exact divisions of small integers
    * ((rank-1)/(n-1), peers/n), which IEEE-754 rounds identically in every
    * engine — the safe way to declare value-relative window positions.
    * Output is one row per order; the window partitions by priority so all
    * five groups rank in parallel.
    */
  def percentRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy(Det.cents($"o_totalprice"))
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .select($"o_orderkey", $"o_orderpriority", $"pr", $"cd")
      .orderBy($"o_orderkey")
  }

  val percentRankSql: String =
    """SELECT o_orderkey, o_orderpriority,
      | percent_rank() OVER w AS pr,
      | cume_dist() OVER w AS cd
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY CAST(round(o_totalprice * 100) AS BIGINT))
      |ORDER BY o_orderkey""".stripMargin

  /** q_moments — the single-pass integer moment sketch per return flag:
    * n, Σq, Σq², Σd, Σq·d (q = quantity, d = discount percent — both small
    * exact ints). These five numbers assemble variance (n·Σq² − (Σq)²) and
    * the correlation numerator (n·Σqd − Σq·Σd) WITHOUT a second pass or any
    * float accumulation — the distributed replacement for stddev/corr
    * aggregates whose float partial sums are order-dependent. Assembled
    * var_num_q is emitted too: exact BIGINT at bench scale (q ≤ 50 ⇒
    * n·Σq² ≈ 9·10^15 at sf0.1; a 100 TB run assembles in DECIMAL(38)).
    */
  def moments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = round($"l_quantity").cast("long")
    val d = round($"l_discount" * 100).cast("long")
    Tables.lineitem(spark, dir)
      .select($"l_returnflag", q.as("q"), d.as("d"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"q").as("s_q"), sum($"q" * $"q").as("s_qq"),
        sum($"d").as("s_d"), sum($"q" * $"d").as("s_qd"))
      .withColumn("var_num_q", $"n" * $"s_qq" - $"s_q" * $"s_q")
      .withColumn("corr_num_qd", $"n" * $"s_qd" - $"s_q" * $"s_d")
      .orderBy($"l_returnflag")
  }

  val momentsSql: String =
    """WITH m AS (
      | SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS s_q,
      |  CAST(sum(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS s_qq,
      |  CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS s_d,
      |  CAST(sum(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS s_qd
      | FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n, s_q, s_qq, s_d, s_qd,
      | n * s_qq - s_q * s_q AS var_num_q,
      | n * s_qd - s_q * s_d AS corr_num_qd
      |FROM m
      |ORDER BY l_returnflag""".stripMargin

  /** q_tpch_q14 — promotion revenue share per ship month: numerator
    * (PROMO-part revenue) and denominator as exact integer micro-cents,
    * plus their share as ONE double division (a single IEEE op both
    * engines round identically — the safe way to emit a ratio; summing
    * doubles would be order-dependent). The part dimension broadcasts;
    * the fact side streams map-only into a month hash-aggregate, with the
    * conditional numerator folded into the same pass (no second scan, no
    * join-per-branch).
    */
  def tpchQ14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.part(spark, dir).select($"p_partkey", $"p_type")
    val li = Tables.lineitem(spark, dir)
      .select($"l_partkey", date_format($"l_shipdate", "yyyy-MM").as("ym"),
        (Det.cents($"l_extendedprice") *
          (lit(100L) - round($"l_discount" * 100).cast("long"))).as("rev_ucents"))
    li.join(broadcast(p), $"l_partkey" === $"p_partkey")
      .groupBy($"ym")
      .agg(sum(when($"p_type" === "PROMO", $"rev_ucents").otherwise(0L))
          .as("promo_ucents"),
        sum($"rev_ucents").as("total_ucents"))
      .withColumn("promo_share",
        $"promo_ucents".cast("double") / $"total_ucents".cast("double"))
      .orderBy($"ym")
  }

  val tpchQ14Sql: String =
    """WITH m AS (
      | SELECT strftime(l_shipdate, '%Y-%m') AS ym,
      |  CAST(sum(CASE WHEN p_type = 'PROMO'
      |            THEN CAST(round(l_extendedprice * 100) AS BIGINT)
      |                 * (100 - CAST(round(l_discount * 100) AS BIGINT))
      |            ELSE 0 END) AS BIGINT) AS promo_ucents,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_ucents
      | FROM lineitem JOIN part ON l_partkey = p_partkey
      | GROUP BY 1)
      |SELECT ym, promo_ucents, total_ucents,
      | CAST(promo_ucents AS DOUBLE) / CAST(total_ucents AS DOUBLE) AS promo_share
      |FROM m
      |ORDER BY ym""".stripMargin

  /** Q18 quantity bar: ~1.5% of orders clear it on the fixture data. */
  val Q18MinQty = 250L

  /** q_tpch_q18 — large-volume customers: the 100 biggest undelivered
    * baskets (orders whose total line quantity exceeds [[Q18MinQty]]) with
    * their customer. The classic HAVING-driven semi-join: the lineitem
    * aggregate is the only fact-sized pass, its survivor set is tiny BY
    * CONSTRUCTION (the threshold selects the extreme tail, any SF), so it
    * broadcasts into orders and the join chain never shuffles a fact table
    * twice. Quantities are integral doubles — summed as exact BIGINTs.
    * o_totalprice is a raw column (no aggregation), so emitting it as
    * double is engine-safe; ties on it are broken by date then key.
    */
  def tpchQ18(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(sum($"l_quantity".cast("long")).as("total_qty"))
      .filter($"total_qty" > Q18MinQty)
    Tables.orders(spark, dir)
      .join(broadcast(big), $"o_orderkey" === $"l_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .select($"c_name", $"c_custkey", $"o_orderkey",
        to_date($"o_orderdate").as("o_orderdate"), $"o_totalprice", $"total_qty")
      .orderBy($"o_totalprice".desc, $"o_orderdate", $"o_orderkey")
      .limit(100)
  }

  val tpchQ18Sql: String =
    s"""WITH big AS (
       | SELECT l_orderkey,
       |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
       | FROM lineitem
       | GROUP BY l_orderkey
       | HAVING sum(CAST(l_quantity AS BIGINT)) > $Q18MinQty)
       |SELECT c_name, c_custkey, o_orderkey,
       | CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, total_qty
       |FROM big
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
       |LIMIT 100""".stripMargin

  /** Q5 scope: one region, one order-date year. */
  val Q5Region = "EUROPE"
  val Q5Year = 1996

  /** q_tpch_q5 — local-supplier volume: revenue per nation from orders
    * placed in [[Q5Year]] where the customer and the line's supplier sit in
    * the SAME nation of [[Q5Region]] (the classic 6-table join with a
    * non-key equality c_nationkey = s_nationkey closing the cycle).
    *
    * Scale notes: nation⋈region prunes to the 5 region nations and
    * broadcasts twice (customer side and supplier side), so the region
    * filter reaches BOTH dimension legs before any fact shuffle; supplier
    * broadcasts whole. The only fact-sized data movement is one shuffle of
    * the year-filtered orders⋈customer result against lineitem on the order
    * key. Revenue is exact integer micro-cents (see [[tpchQ3]]).
    */
  def tpchQ5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val regionNations = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir),
        $"n_regionkey" === $"r_regionkey" && $"r_name" === Q5Region)
      .select($"n_nationkey", $"n_name")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(regionNations), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_nationkey")
    val ord = Tables.orders(spark, dir)
      .filter(year(to_date($"o_orderdate")) === Q5Year)
      .select($"o_orderkey", $"o_custkey")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(regionNations), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_nationkey", $"n_name")
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey",
        (Det.cents($"l_extendedprice") *
          (lit(100L) - round($"l_discount" * 100).cast("long"))).as("rev_ucents"))
    ord.join(cust, $"o_custkey" === $"c_custkey")
      .join(li, $"o_orderkey" === $"l_orderkey")
      .join(broadcast(supp),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .groupBy($"n_name")
      .agg(sum($"rev_ucents").as("revenue_ucents"))
      .orderBy($"revenue_ucents".desc, $"n_name")
  }

  val tpchQ5Sql: String =
    s"""SELECT n_name,
       | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
       |          * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
       |   AS revenue_ucents
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = '$Q5Region'
       |  AND year(CAST(o_orderdate AS DATE)) = $Q5Year
       |GROUP BY n_name
       |ORDER BY revenue_ucents DESC, n_name""".stripMargin

  /** Q7 nation pair (both directions). */
  val Q7NationA = "NATION_3"
  val Q7NationB = "NATION_8"

  /** q_tpch_q7 — volume shipping between two nations: revenue by
    * (supplier nation, customer nation, ship year) for flows in EITHER
    * direction between [[Q7NationA]] and [[Q7NationB]]. The classic
    * two-sided dimension filter: both nation legs broadcast with their
    * filters applied, the pair predicate is evaluated on the already-joined
    * dimension columns, and the fact side shuffles once (orders⋈lineitem on
    * the order key) — supplier and the two nation maps never touch a
    * fact-sized exchange.
    */
  def tpchQ7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nations = Seq(Q7NationA, Q7NationB)
    val supp = Tables.supplier(spark, dir)
      .join(Tables.nation(spark, dir),
        $"s_nationkey" === $"n_nationkey" && $"n_name".isin(nations: _*))
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir),
        $"c_nationkey" === $"n_nationkey" && $"n_name".isin(nations: _*))
      .select($"c_custkey", $"n_name".as("cust_nation"))
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey",
        year(to_date($"l_shipdate")).cast("long").as("l_year"),
        (Det.cents($"l_extendedprice") *
          (lit(100L) - round($"l_discount" * 100).cast("long"))).as("rev_ucents"))
    Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(li, $"o_orderkey" === $"l_orderkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .filter(($"supp_nation" === Q7NationA && $"cust_nation" === Q7NationB) ||
        ($"supp_nation" === Q7NationB && $"cust_nation" === Q7NationA))
      .groupBy($"supp_nation", $"cust_nation", $"l_year")
      .agg(sum($"rev_ucents").as("revenue_ucents"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  val tpchQ7Sql: String =
    s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       | CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS l_year,
       | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
       |          * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
       |  AS revenue_ucents
       |FROM lineitem
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |JOIN supplier ON s_suppkey = l_suppkey
       |JOIN nation sn ON sn.n_nationkey = s_nationkey
       |JOIN nation cn ON cn.n_nationkey = c_nationkey
       |WHERE (sn.n_name = '$Q7NationA' AND cn.n_name = '$Q7NationB')
       |   OR (sn.n_name = '$Q7NationB' AND cn.n_name = '$Q7NationA')
       |GROUP BY 1, 2, 3
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** Q4 window: one quarter of orders. */
  val Q4Start = "1997-01-01"
  val Q4End = "1997-04-01"
  /** "Committed late" proxy: the fixture lineitem has no commit/receipt
    * dates, so a lineitem shipped > [[Q4LateDays]] days after the order
    * date stands in for TPC-H's l_commitdate < l_receiptdate — same
    * decorrelated-EXISTS shape, fixture-expressible predicate.
    */
  val Q4LateDays = 60

  /** q_tpch_q4 — order-priority checking: per priority class, how many
    * orders in one quarter had at least one late lineitem. The classic
    * correlated-EXISTS shape: Catalyst decorrelates the subquery into a
    * LEFT SEMI join on the order key with the late predicate as an extra
    * join condition, so the lineitem side is filtered AND deduplicated by
    * the semi-join itself — no count-then-filter, no distinct. The
    * priority aggregate then runs over order rows only.
    *
    * Scale notes: the semi-join shuffles on the fact key (the only
    * corpus-sized movement); the quarter filter reaches the orders scan as
    * a pushed date range, so the probe side is months, not years.
    */
  def tpchQ4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter(to_date($"o_orderdate") >= lit(Q4Start) &&
        to_date($"o_orderdate") < lit(Q4End))
      .select($"o_orderkey", $"o_orderpriority",
        to_date($"o_orderdate").as("o_date"))
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", to_date($"l_shipdate").as("l_sdate"))
    ord.join(li,
        $"o_orderkey" === $"l_orderkey" &&
          $"l_sdate" > date_add($"o_date", Q4LateDays),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  val tpchQ4Sql: String =
    s"""SELECT o_orderpriority, count(*) AS order_count
       |FROM orders o
       |WHERE CAST(o_orderdate AS DATE) >= DATE '$Q4Start'
       |  AND CAST(o_orderdate AS DATE) < DATE '$Q4End'
       |  AND EXISTS (
       |   SELECT 1 FROM lineitem l
       |   WHERE l.l_orderkey = o.o_orderkey
       |     AND CAST(l.l_shipdate AS DATE) >
       |         CAST(o.o_orderdate AS DATE) + INTERVAL $Q4LateDays DAY)
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** Priority class excluded from Q13's per-customer counts (the fixture
    * stand-in for TPC-H's `o_comment NOT LIKE '%special%requests%'`).
    */
  val Q13ExcludedPriority = "5-LOW"

  /** q_tpch_q13 — customer order-count distribution: how many customers
    * placed 0, 1, 2… qualifying orders. The ONLY aggregate-over-outer-join
    * shape in the surface: customers with no orders must survive as
    * c_count = 0 (count(o_orderkey) over the null-extended rows), which an
    * inner join silently drops — the exact bug class this query pins.
    *
    * Scale notes: the filter on the orders side sits in the JOIN condition
    * (not a WHERE after the join, which would turn left-outer into inner);
    * both aggregates are hash aggregates with map-side partials, and the
    * second one runs over at most |distinct counts| rows.
    */
  def tpchQ13(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderpriority" =!= Q13ExcludedPriority)
      .select($"o_orderkey", $"o_custkey")
    val perCust = Tables.customer(spark, dir).select($"c_custkey")
      .join(ord, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
    perCust.groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  val tpchQ13Sql: String =
    s"""SELECT c_count, count(*) AS custdist
       |FROM (
       | SELECT c_custkey, count(o_orderkey) AS c_count
       | FROM customer LEFT OUTER JOIN orders
       |  ON c_custkey = o_custkey AND o_orderpriority <> '$Q13ExcludedPriority'
       | GROUP BY c_custkey)
       |GROUP BY c_count
       |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q_tpch_q19 — discounted revenue over an OR of per-branch conjunctions
    * spanning BOTH join sides (brand+size from part, quantity from
    * lineitem). The disjunctive-pushdown probe: Catalyst must extract the
    * common per-side implications (brand IN (...), size ≤ max, quantity
    * within the union range) and push them into BOTH scans while keeping
    * the exact disjunction as the residual join filter — no other declared
    * query pushes an OR of conjunctions. Revenue is exact integer
    * micro-cents (the Q3 recipe).
    */
  def tpchQ19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.part(spark, dir).select($"p_partkey", $"p_brand", $"p_size")
    val li = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_quantity",
        (Det.cents($"l_extendedprice") *
          (lit(100L) - round($"l_discount" * 100).cast("long"))).as("rev_ucents"))
    def branch(brand: String, sizeMax: Int, qLo: Int, qHi: Int) =
      $"p_brand" === brand && $"p_size".between(1, sizeMax) &&
        $"l_quantity".between(qLo, qHi)
    li.join(broadcast(part), $"l_partkey" === $"p_partkey")
      .filter(branch("Brand#12", 15, 1, 11) ||
        branch("Brand#23", 25, 10, 20) ||
        branch("Brand#34", 35, 20, 30))
      .agg(sum($"rev_ucents").as("revenue_ucents"),
        count(lit(1)).as("n_lines"))
  }

  val tpchQ19Sql: String =
    """SELECT
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |          * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
      |  AS revenue_ucents,
      | count(*) AS n_lines
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** Q16's excluded brand and admitted size set. */
  val Q16ExcludedBrand = "Brand#45"
  val Q16Sizes: Seq[Int] = Seq(1, 5, 9, 14, 19, 23, 36, 45)

  /** q_tpch_q16 — supplier breadth per (brand, size): how many DISTINCT
    * suppliers ship each admitted part group, excluding one brand. The
    * NOT-equal + IN-list pushdown pair plus the only
    * countDistinct-under-grouped-aggregate shape in the surface (planned
    * as Expand + two-phase aggregate — partials stay mergeable, no
    * whole-group row collection). The fixture has no partsupp table, so the
    * supplier relation comes from lineitem's (partkey, suppkey) pairs —
    * same join/aggregate geometry, fixture-expressible.
    */
  def tpchQ16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.part(spark, dir)
      .filter($"p_brand" =!= Q16ExcludedBrand && $"p_size".isin(Q16Sizes: _*))
      .select($"p_partkey", $"p_brand", $"p_size")
    Tables.lineitem(spark, dir).select($"l_partkey", $"l_suppkey")
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_size")
  }

  val tpchQ16Sql: String =
    s"""SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |WHERE p_brand <> '$Q16ExcludedBrand'
       |  AND p_size IN (${Q16Sizes.mkString(", ")})
       |GROUP BY p_brand, p_size
       |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin

  /** q_tpch_q21 — suppliers who single-handedly held up multi-supplier
    * orders: per supplier, the number of orders where THIS supplier shipped
    * late (the [[Q4LateDays]] proxy), at least one OTHER supplier has a
    * line in the order (EXISTS), and NO other supplier shipped late
    * (NOT EXISTS). The double-correlation shape — a semi-join and an
    * anti-join against the same fact table keyed by the same order —
    * that TPC-H's hardest optimizer query exercises.
    *
    * Scale notes: the TEXTBOOK plan (a semi-join and an anti-join against
    * the fact table, which is what the oracle SQL literally states)
    * re-shuffles lineitem three times and sort-merges twice — measured 6
    * exchanges + SMJ here. But both correlations are per-ORDER questions,
    * and an order's lines are basket-bounded (≤7 at any SF), so ONE
    * group-bounded aggregate answers them: per order, the distinct
    * supplier count and the set of late suppliers; "sole late supplier of
    * a multi-supplier order" is then a row filter. Two exchanges total
    * (orderkey, then suppkey), no join at all, and the hash gate proves it
    * equivalent to the oracle's EXISTS/NOT-EXISTS form — the same
    * correlated-to-aggregate rewrite a 100 TB deployment wants, done in
    * the declarative layer.
    */
  def tpchQ21(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select($"o_orderkey",
        to_date($"o_orderdate").as("o_date")),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_suppkey",
        (to_date($"l_shipdate") > date_add($"o_date", Q4LateDays)).as("late"))
    li.groupBy($"l_orderkey")
      .agg(size(collect_set($"l_suppkey")).as("n_sup"),
        // collect_set ignores the when()'s nulls: only late suppliers land
        collect_set(when($"late", $"l_suppkey")).as("late_sups"))
      .filter($"n_sup" > 1 && size($"late_sups") === 1)
      .select(element_at($"late_sups", 1).as("l_suppkey"))
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .orderBy($"numwait".desc, $"l_suppkey")
  }

  val tpchQ21Sql: String =
    s"""WITH li AS (
       | SELECT l_orderkey, l_suppkey,
       |  CAST(l_shipdate AS DATE) >
       |    CAST(o_orderdate AS DATE) + INTERVAL $Q4LateDays DAY AS late
       | FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
       |late_sup AS (
       | SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late)
       |SELECT s.l_suppkey, count(*) AS numwait
       |FROM late_sup s
       |WHERE EXISTS (
       |  SELECT 1 FROM li o
       |  WHERE o.l_orderkey = s.l_orderkey AND o.l_suppkey <> s.l_suppkey)
       | AND NOT EXISTS (
       |  SELECT 1 FROM li o
       |  WHERE o.l_orderkey = s.l_orderkey AND o.l_suppkey <> s.l_suppkey
       |    AND o.late)
       |GROUP BY s.l_suppkey
       |ORDER BY numwait DESC, s.l_suppkey""".stripMargin

  /** q_tpch_q6 — the forecasting-revenue-change scan: pure predicate
    * aggregate, no join. Discount matching uses the rounded integer
    * percentage (exact for 2-decimal fixture discounts), revenue is the
    * exact integer `cents(price) · disc_pct` — TPC-H's one
    * full-scan-with-tight-filters shape, the query that shows whether
    * predicates reach the scan (all three push down; see docs/PLANS.md).
    */
  def tpchQ6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter(year(to_date($"l_shipdate")) === 1997 &&
        round($"l_discount" * 100).cast("long").between(5L, 7L) &&
        $"l_quantity" < 24)
      .agg(sum(Det.cents($"l_extendedprice") *
        round($"l_discount" * 100).cast("long")).as("revenue_ucents"),
        count(lit(1)).as("n_lines"))
  }

  val tpchQ6Sql: String =
    """SELECT
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |          * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
      |  AS revenue_ucents,
      | count(*) AS n_lines
      |FROM lineitem
      |WHERE year(CAST(l_shipdate AS DATE)) = 1997
      |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      |  AND l_quantity < 24""".stripMargin

  /** q_tpch_q10 — returned-item revenue per customer for one quarter: the
    * 4-table star (customer ⋈ orders ⋈ lineitem ⋈ nation) feeding a top-k,
    * with the returnflag filter on the fact side and the date window on
    * orders — Q3's geometry plus a second dimension hop. Exact integer
    * micro-cents; top 20 by lost revenue.
    */
  def tpchQ10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter(to_date($"o_orderdate") >= lit(Q4Start) &&
        to_date($"o_orderdate") < lit(Q4End))
      .select($"o_orderkey", $"o_custkey")
    val li = Tables.lineitem(spark, dir)
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey",
        (Det.cents($"l_extendedprice") *
          (lit(100L) - round($"l_discount" * 100).cast("long"))).as("rev_ucents"))
    val custN = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"n_name")
    ord.join(li, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_custkey")
      .agg(sum($"rev_ucents").as("revenue_ucents"))
      .join(broadcast(custN), $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"n_name", $"revenue_ucents")
      .orderBy($"revenue_ucents".desc, $"c_custkey")
      .limit(20)
  }

  val tpchQ10Sql: String =
    s"""SELECT c_custkey, c_name, n_name,
       | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
       |          * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
       |  AS revenue_ucents
       |FROM customer
       |JOIN nation ON n_nationkey = c_nationkey
       |JOIN orders ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE l_returnflag = 'R'
       |  AND CAST(o_orderdate AS DATE) >= DATE '$Q4Start'
       |  AND CAST(o_orderdate AS DATE) < DATE '$Q4End'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue_ucents DESC, c_custkey
       |LIMIT 20""".stripMargin

  /** q_tpch_q15 — top supplier(s) by quarter revenue: the grouped-revenue
    * frame compared against ITS OWN maximum (TPC-H's view + scalar
    * subquery). The max is a 1-row aggregate broadcast back over the
    * per-supplier frame — no window over a global sort, and ties (all
    * suppliers at the max) survive, exactly as the spec requires.
    */
  def tpchQ15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, dir)
      .filter(to_date($"l_shipdate") >= lit(Q4Start) &&
        to_date($"l_shipdate") < lit(Q4End))
      .groupBy($"l_suppkey")
      .agg(sum(Det.cents($"l_extendedprice") *
        (lit(100L) - round($"l_discount" * 100).cast("long"))).as("total_ucents"))
    rev.crossJoin(broadcast(rev.agg(max($"total_ucents").as("mx"))))
      .filter($"total_ucents" === $"mx")
      .select($"l_suppkey".as("s_suppkey"), $"total_ucents")
      .orderBy($"s_suppkey")
  }

  val tpchQ15Sql: String =
    s"""WITH rev AS (
       | SELECT l_suppkey,
       |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
       |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
       |   AS total_ucents
       | FROM lineitem
       | WHERE CAST(l_shipdate AS DATE) >= DATE '$Q4Start'
       |   AND CAST(l_shipdate AS DATE) < DATE '$Q4End'
       | GROUP BY l_suppkey)
       |SELECT l_suppkey AS s_suppkey, total_ucents
       |FROM rev
       |WHERE total_ucents = (SELECT max(total_ucents) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  /** Q17's brand under the microscope. */
  val Q17Brand = "Brand#23"

  /** q_tpch_q17 — small-quantity-order revenue for one brand: lineitems
    * whose quantity sits under 20% of their part's average quantity. The
    * correlated scalar aggregate (avg per part) decorrelates into a
    * per-part aggregate joined back to the facts; the sub-average test is
    * done in EXACT INTEGERS — `l_quantity < 0.2·avg(qty)` ⟺
    * `5·qty·cnt < Σqty` (fixture quantities are integral) — so the
    * boundary never depends on float rounding, and the one emitted double
    * (avg yearly loss = total/7) is a single division.
    */
  def tpchQ17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, dir)
      .filter($"p_brand" === Q17Brand).select($"p_partkey")
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .select($"l_partkey", $"l_quantity".cast("long").as("qty"),
        Det.cents($"l_extendedprice").as("price_cents"))
    val avgQ = li.groupBy($"l_partkey")
      .agg(sum($"qty").as("qty_sum"), count(lit(1)).as("cnt"))
    li.join(broadcast(avgQ), Seq("l_partkey"))
      .filter($"qty" * 5L * $"cnt" < $"qty_sum")
      .agg(coalesce(sum($"price_cents"), lit(0L)).as("total_cents"),
        count(lit(1)).as("n_lines"))
      .withColumn("avg_yearly", $"total_cents".cast("double") / 7.0)
  }

  val tpchQ17Sql: String =
    s"""WITH li AS (
       | SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
       |  CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
       | FROM lineitem JOIN part ON p_partkey = l_partkey
       | WHERE p_brand = '$Q17Brand'),
       |avgq AS (
       | SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS qty_sum,
       |  count(*) AS cnt
       | FROM li GROUP BY l_partkey)
       |SELECT CAST(coalesce(sum(price_cents), 0) AS BIGINT) AS total_cents,
       | count(*) AS n_lines,
       | CAST(coalesce(sum(price_cents), 0) AS DOUBLE) / 7.0 AS avg_yearly
       |FROM li JOIN avgq USING (l_partkey)
       |WHERE qty * 5 * cnt < qty_sum""".stripMargin

  /** Q22's dormancy cutoff: a qualifying customer has placed NO order on
    * or after this date (the fixture's order history covers every
    * customer, so TPC-H's literal "no orders ever" would be empty).
    */
  val Q22DormantSince = "2000-01-01"

  /** q_tpch_q22 — dormant high-balance customers per nation: balance above
    * the average POSITIVE balance (the scalar subquery), no RECENT orders
    * (the anti-join, date-filtered on the build side). The above-average
    * test is exact integers —
    * `bal > avg(pos bals)` ⟺ `cents(bal)·n_pos > Σcents(pos)` — so both
    * engines admit identical customers; the fixture's nation name stands
    * in for TPC-H's phone country code.
    */
  def tpchQ22(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_nationkey", Det.cents($"c_acctbal").as("bal_cents"))
    val posAvg = cust.filter($"bal_cents" > 0L)
      .agg(sum($"bal_cents").as("pos_sum"), count(lit(1)).as("n_pos"))
    cust.crossJoin(broadcast(posAvg))
      .filter($"bal_cents" * $"n_pos" > $"pos_sum")
      .join(Tables.orders(spark, dir)
          .filter(to_date($"o_orderdate") >= lit(Q22DormantSince))
          .select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("numcust"), sum($"bal_cents").as("totacctbal_cents"))
      .orderBy($"n_name")
  }

  val tpchQ22Sql: String =
    s"""WITH cust AS (
      | SELECT c_custkey, c_nationkey,
      |  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      | FROM customer),
      |pos AS (
      | SELECT CAST(sum(bal_cents) AS BIGINT) AS pos_sum, count(*) AS n_pos
      | FROM cust WHERE bal_cents > 0)
      |SELECT n_name, count(*) AS numcust,
      | CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
      |FROM cust, pos
      |JOIN nation ON n_nationkey = c_nationkey
      |WHERE bal_cents * n_pos > pos_sum
      |  AND NOT EXISTS (
      |   SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |    AND CAST(o_orderdate AS DATE) >= DATE '$Q22DormantSince')
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** Q8's market: region, window, part type, and the supplier nation whose
    * share is measured.
    */
  val Q8Region = "EUROPE"
  val Q8Type = "STANDARD"
  val Q8Nation = "NATION_13"
  val Q8Start = "1996-01-01"
  val Q8End = "1998-01-01"

  /** q_tpch_q8 — national market share: of all [[Q8Type]]-part revenue
    * sold to [[Q8Region]] customers across two years, what fraction came
    * from [[Q8Nation]]'s suppliers, per year. The widest dimension fan in
    * the surface — lineitem against part, orders, customer, and BOTH
    * nation roles (customer-side restricting the market, supplier-side
    * tagging the share) — with every dimension broadcast and the fact
    * table moved exactly once into the year aggregate. The share is exact
    * integer micro-cents through ONE double division (the q_tpch_q14
    * ratio recipe).
    */
  def tpchQ8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nat = Tables.nation(spark, dir)
    val parts = Tables.part(spark, dir)
      .filter($"p_type" === Q8Type).select($"p_partkey")
    val custR = Tables.customer(spark, dir)
      .join(broadcast(nat.join(broadcast(Tables.region(spark, dir)
            .filter($"r_name" === Q8Region)),
          $"n_regionkey" === $"r_regionkey")),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nat.select($"n_nationkey".as("sn_key"),
        $"n_name".as("supp_nation"))), $"s_nationkey" === $"sn_key")
      .select($"s_suppkey", $"supp_nation")
    val ord = Tables.orders(spark, dir)
      .filter(to_date($"o_orderdate") >= lit(Q8Start) &&
        to_date($"o_orderdate") < lit(Q8End))
      .select($"o_orderkey", $"o_custkey",
        year(to_date($"o_orderdate")).cast("long").as("o_year"))
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey",
        (Det.cents($"l_extendedprice") *
          (lit(100L) - round($"l_discount" * 100).cast("long"))).as("rev_ucents"))
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(custR), $"o_custkey" === $"c_custkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .groupBy($"o_year")
      .agg(sum(when($"supp_nation" === Q8Nation, $"rev_ucents").otherwise(0L))
          .as("nation_ucents"),
        sum($"rev_ucents").as("total_ucents"))
      .withColumn("mkt_share",
        $"nation_ucents".cast("double") / $"total_ucents".cast("double"))
      .orderBy($"o_year")
  }

  val tpchQ8Sql: String =
    s"""WITH vol AS (
       | SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
       |  CAST(round(l_extendedprice * 100) AS BIGINT)
       |    * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_ucents,
       |  sn.n_name AS supp_nation
       | FROM lineitem
       | JOIN part ON p_partkey = l_partkey AND p_type = '$Q8Type'
       | JOIN orders ON o_orderkey = l_orderkey
       | JOIN customer ON c_custkey = o_custkey
       | JOIN nation cn ON cn.n_nationkey = c_nationkey
       | JOIN region ON r_regionkey = cn.n_regionkey AND r_name = '$Q8Region'
       | JOIN supplier ON s_suppkey = l_suppkey
       | JOIN nation sn ON sn.n_nationkey = s_nationkey
       | WHERE CAST(o_orderdate AS DATE) >= DATE '$Q8Start'
       |   AND CAST(o_orderdate AS DATE) < DATE '$Q8End')
       |SELECT CAST(o_year AS BIGINT) AS o_year,
       | CAST(sum(CASE WHEN supp_nation = '$Q8Nation' THEN rev_ucents ELSE 0 END) AS BIGINT)
       |  AS nation_ucents,
       | CAST(sum(rev_ucents) AS BIGINT) AS total_ucents,
       | CAST(sum(CASE WHEN supp_nation = '$Q8Nation' THEN rev_ucents ELSE 0 END) AS DOUBLE)
       |  / CAST(sum(rev_ucents) AS DOUBLE) AS mkt_share
       |FROM vol
       |GROUP BY o_year
       |ORDER BY o_year""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("q_tpch_q8", tpchQ8, Some(tpchQ8Sql)),
    Declared("q_tpch_q6", tpchQ6, Some(tpchQ6Sql)),
    Declared("q_tpch_q10", tpchQ10, Some(tpchQ10Sql)),
    Declared("q_tpch_q15", tpchQ15, Some(tpchQ15Sql)),
    Declared("q_tpch_q17", tpchQ17, Some(tpchQ17Sql)),
    Declared("q_tpch_q22", tpchQ22, Some(tpchQ22Sql)),
    Declared("q_tpch_q16", tpchQ16, Some(tpchQ16Sql)),
    Declared("q_tpch_q21", tpchQ21, Some(tpchQ21Sql)),
    Declared("q_tpch_q4", tpchQ4, Some(tpchQ4Sql)),
    Declared("q_tpch_q13", tpchQ13, Some(tpchQ13Sql)),
    Declared("q_tpch_q19", tpchQ19, Some(tpchQ19Sql)),
    Declared("q_tpch_q7", tpchQ7, Some(tpchQ7Sql)),
    Declared("q_tpch_q5", tpchQ5, Some(tpchQ5Sql)),
    Declared("q_tpch_q3", tpchQ3, Some(tpchQ3Sql)),
    Declared("q_tpch_q14", tpchQ14, Some(tpchQ14Sql)),
    Declared("q_tpch_q18", tpchQ18, Some(tpchQ18Sql)),
    Declared("q_percent_rank", percentRank, Some(percentRankSql)),
    Declared("q_moments", moments, Some(momentsSql)))
}
