package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog._
import graft.catalog.NagiosQueries.statusEnrich

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2 (+ §2.10 extensions), each with a DuckDB oracle in
  * [[oracleSql]] where ANSI-SQL-expressible; hash-based operators
  * (minhash/simhash/knn) are rows-only checks. Each query is one
  * [[catalog.Query]] in its family's file under `graft.catalog`; the
  * maps here are views of the assembled catalog.
  *
  * Role mapping (FIXTURES.md §A): `events` plays the status/metric
  * stream, `customer`/`nation` the membership + enrichment dimensions,
  * `lineitem` the wide metric fact table, `part` the type-routing
  * table, `documents`/`embeddings` the §2.10 extension operators.
  *
  * Oracle-parity conventions: aggregate money/double sums go through
  * DECIMAL(18,x) (exact, order-independent) then cast to double;
  * counts are cast to long (DuckDB len()/count() are BIGINT); ratios
  * are rounded to fixed decimals computed identically on both sides.
  */
object SparkEntry {

  /** Flagship: the §3.2 status-enrichment pipeline shape on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    statusEnrich(spark, "/root/testdata/sf0.001")

  private lazy val catalog: Map[String, Query] = Catalog.assemble(
    NagiosQueries.all, RelationalQueries.all, TextQueries.all,
    DedupQueries.all, SimilarityQueries.all, TimeSeriesQueries.all,
    BehaviorQueries.all, SamplingQueries.all, ProfilingQueries.all,
    MultimodalQueries.all)

  private def on(surface: Query.Surface): Map[String, Query.Build] =
    catalog.collect { case (n, q) if q.surface == surface => n -> q.build }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    on(Query.Oracled)

  lazy val verifyOnly: Map[String, (SparkSession, String) => DataFrame] =
    on(Query.VerifyOnly)

  lazy val benchOnly: Map[String, (SparkSession, String) => DataFrame] =
    on(Query.BenchOnly)

  lazy val oracleSql: Map[String, String] =
    catalog.collect { case (n, Query(_, _, Some(sql), _)) => n -> sql }
}
