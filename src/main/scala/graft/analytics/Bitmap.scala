package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Declared
import graft.io.Tables

/** Bitmap-index audience overlap — every pairwise |A∩B| over N segments
  * WITHOUT an N²·|members| pair shuffle, the roaring-bitmap pattern
  * (Druid/ClickHouse/Pinot segment indexes) built from portable integer
  * ops so a cross-engine hash gate holds it.
  *
  * Members compress 63× into (word = id div 63, bitmap = bit_or of
  * 1 << (id mod 63)) — 63-bit words because a 64th bit means 1 << 63 and
  * DuckDB (correctly) rejects that signed-overflow shift; Spark would
  * silently wrap, so the narrower word is also the safer contract.
  * `bit_or` is associative/commutative — the bitmap build is one
  * partial+final aggregate, and per-slice bitmaps MERGE by the same
  * bit_or without revisiting members. Set cardinality = Σ bit_count(bm)
  * (popcount, no DISTINCT); intersection = Σ bit_count(a & b) over an
  * equi-join on word — segments meet only on words BOTH populate.
  *
  * Scale shape: one scan → (segment, word) aggregate (≤ |ids|/63 rows per
  * segment), a word-keyed self-join of bitmap frames (word is
  * high-cardinality and uniform — no skew), constant-size output. The
  * same frame answers ANY boolean audience algebra (AND here; OR/NOT are
  * the other popcount identities) — build once, query many.
  */
object Bitmap {

  /** Bits per word: 63 keeps every shift strictly below the sign bit. */
  val WordBits = 63L

  /** Pairwise overlap over any (seg, id) membership frame (id ≥ 0).
    * Disjoint pairs EMIT a zero row — the pair frame comes from the
    * segment list and the intersection counts LEFT-join onto it, because
    * an inner join on shared words would silently drop exactly the pairs
    * a disjointness report exists to show (PropertySpec pins this edge).
    */
  def overlapOver(members: DataFrame): DataFrame = {
    val spark = members.sparkSession
    import spark.implicits._
    val bm = members
      .select($"seg",
        expr(s"id div $WordBits").as("word"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(id % $WordBits AS INT))")
          .as("bit"))
      .groupBy($"seg", $"word")
      .agg(expr("bit_or(bit)").as("bm"))
    val sizes = bm.groupBy($"seg")
      .agg(sum(expr("bit_count(bm)")).cast("long").as("n"))
    val a = bm.select($"seg".as("seg_a"), $"word", $"bm".as("bm_a"))
    val b = bm.select($"seg".as("seg_b"), $"word", $"bm".as("bm_b"))
    val inter = a.join(b, "word")
      .filter($"seg_a" < $"seg_b")
      .groupBy($"seg_a", $"seg_b")
      .agg(sum(expr("bit_count(bm_a & bm_b)")).cast("long").as("n_ov"))
    val pairs = sizes.select($"seg".as("seg_a"), $"n".as("n_a"))
      .crossJoin(sizes.select($"seg".as("seg_b"), $"n".as("n_b")))
      .filter($"seg_a" < $"seg_b")
    pairs.join(broadcast(inter), Seq("seg_a", "seg_b"), "left")
      .select($"seg_a", $"seg_b", $"n_a", $"n_b",
        coalesce($"n_ov", lit(0L)).as("n_overlap"))
      .select($"seg_a", $"seg_b", $"n_a", $"n_b", $"n_overlap",
        expr("n_overlap * 1000 div (n_a + n_b - n_overlap)")
          .as("jaccard_permille"))
      .orderBy($"seg_a", $"seg_b")
  }

  /** x_bitmap_overlap — pairwise customer-audience overlap of the five
    * order-priority segments: exact |A|, |B|, |A∩B| and Jaccard permille
    * from popcounts alone.
    */
  def bitmapOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    overlapOver(Tables.orders(spark, dir)
      .select($"o_orderpriority".as("seg"), $"o_custkey".as("id")))
  }

  val bitmapOverlapSql: String =
    s"""WITH bm AS (
       | SELECT o_orderpriority AS seg, o_custkey // $WordBits AS word,
       |  CAST(bit_or(CAST(1 AS BIGINT) << CAST(o_custkey % $WordBits AS INTEGER))
       |   AS BIGINT) AS bm
       | FROM orders GROUP BY 1, 2),
       |sizes AS (
       | SELECT seg, CAST(sum(bit_count(bm)) AS BIGINT) AS n FROM bm GROUP BY 1),
       |inter AS (
       | SELECT a.seg AS seg_a, b.seg AS seg_b,
       |  CAST(sum(bit_count(a.bm & b.bm)) AS BIGINT) AS n_ov
       | FROM bm a JOIN bm b ON a.word = b.word AND a.seg < b.seg
       | GROUP BY 1, 2),
       |pairs AS (
       | SELECT sa.seg AS seg_a, sb.seg AS seg_b, sa.n AS n_a, sb.n AS n_b
       | FROM sizes sa CROSS JOIN sizes sb WHERE sa.seg < sb.seg)
       |SELECT p.seg_a, p.seg_b, p.n_a, p.n_b,
       | coalesce(i.n_ov, 0) AS n_overlap,
       | coalesce(i.n_ov, 0) * 1000 // (p.n_a + p.n_b - coalesce(i.n_ov, 0))
       |  AS jaccard_permille
       |FROM pairs p
       |LEFT JOIN inter i ON i.seg_a = p.seg_a AND i.seg_b = p.seg_b
       |ORDER BY p.seg_a, p.seg_b""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("x_bitmap_overlap", bitmapOverlap, Some(bitmapOverlapSql)))
}
