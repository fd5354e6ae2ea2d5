package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.{Anomaly, AsOf, Attribution, Basket, Benford, Bfs, Bitmap, BloomJoin, BottomK, Intervals, CardEst, Cohort, Diff, Experiment, Forecast, Hll, Incremental, Journey, Layout, Neighbors, PageRank, Paths, PrefixSum, RandWalk, Relational, Rfm, Scd, Series, Sessions, ShortestPath, Sketch, Skew, Stats, Tpch, TpchPs, Triangles, Twap, Upsert, Warehouse}
import graft.dq.DataQuality
import graft.io.Ingest
import graft.llm.{AnnMulti, Bpe, Cluster, Contain, CorpusFilter, DataCard, Dedup, Drift, EditJoin, EmbedStats, Eval, FeatureHash, Ivf, IvfPq, LangId, Pack, Pq, Privacy, Retrieval, Semantic, SimHash, SimJoin, Similarity, SpanDedup, Terms, TextClean, TextOps, WeakLabel}
import graft.multimodal.Multimodal
import graft.streaming.IncrMv

/** One declared query: its registry name, the builder that returns its
  * frame for a scale-factor directory, and the DuckDB SQL its result is
  * hash-compared against. `oracleSql = None` declares a rows-only check;
  * it is never implied by a missing entry.
  */
final case class Declared(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: Option[String])

/** Driver contract — see SURVEY.md §7.
  *
  * Every query is declared once, as a [[Declared]] in the module that
  * implements it; `declared` lists each module once, and `queries` and
  * `oracleSql` are views of that one list. `oracleSql` carries the
  * DuckDB-equivalent ANSI SQL each result is hash-compared against at
  * sf0.01; a query has no oracle only when its entry says `None`. Column
  * names and row order are pinned identically on both sides (SURVEY.md
  * §7.4 determinism rules).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** Every declared query, one entry per implemented operator from
    * SURVEY.md §2, in module order.
    */
  lazy val declared: Seq[Declared] = unique(Seq(
      Relational.declared, BloomJoin.declared, Upsert.declared, Warehouse.declared, Diff.declared,
      PageRank.declared, RandWalk.declared, Bfs.declared, ShortestPath.declared, BottomK.declared,
      Intervals.declared, Incremental.declared, PrefixSum.declared, Triangles.declared,
      Tpch.declared, TpchPs.declared, Journey.declared, Sketch.declared, Hll.declared,
      Series.declared, Bitmap.declared, Sessions.declared, AsOf.declared, DataQuality.declared,
      Ingest.declared, TextOps.declared, WeakLabel.declared, TextClean.declared, Terms.declared,
      Bpe.declared, Dedup.declared, Pack.declared, Privacy.declared, Cluster.declared,
      CorpusFilter.declared, SimHash.declared, SimJoin.declared, Contain.declared,
      Retrieval.declared, EmbedStats.declared, Layout.declared, LangId.declared,
      Similarity.declared, Ivf.declared, AnnMulti.declared, Semantic.declared, Drift.declared,
      DataCard.declared, Pq.declared, IvfPq.declared, Skew.declared, Cohort.declared, Rfm.declared,
      Basket.declared, Anomaly.declared, Neighbors.declared, EditJoin.declared, SpanDedup.declared,
      Attribution.declared, Scd.declared, Benford.declared, Twap.declared, Paths.declared,
      Forecast.declared, FeatureHash.declared, Eval.declared, Stats.declared, CardEst.declared,
      Experiment.declared, Multimodal.declared, IncrMv.declared).flatten)

  /** `ds` itself; throws naming every query name `ds` declares twice. */
  def unique(ds: Seq[Declared]): Seq[Declared] = {
    val twice = ds.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(twice.isEmpty, s"query declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    ds
  }

  /** Builder of each declared query, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(d => d.name -> d.build).toMap

  /** Oracle SQL of each declared query that has one, by name. */
  lazy val oracleSql: Map[String, String] =
    declared.flatMap(d => d.oracleSql.map(d.name -> _)).toMap
}
