package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query of the catalog: how to build it over a
  * testdata dir and, where the engine's answer is exact, the DuckDB SQL
  * its output must match. Declared once, in its family's file.
  */
final case class Query(name: String, build: Query.Build,
    oracle: Option[String], surface: Query.Surface)

object Query {
  type Build = (SparkSession, String) => DataFrame

  /** Where a query runs: `Verify` dumps [[Oracled]] and [[VerifyOnly]]
    * queries for the oracle, `Bench` times [[Oracled]] and
    * [[BenchOnly]] ones.
    */
  sealed trait Surface
  case object Oracled extends Surface

  /** Forced-distributed (`localMaxEdges = 0`) twins of the gated graph
    * queries: with the small-graph gates active, the oracle rows of
    * the gated queries exercise the DRIVER arms at verify SF, so a
    * regression in the distributed decimal dataflow would slip past
    * the DuckDB gate. A twin re-runs the SAME query body with the gate
    * pinned off and is checked against its sibling's oracle; the bench
    * never times it.
    */
  case object VerifyOnly extends Surface

  /** The partial-probe ANN configurations (the bucketed-candidate,
    * bounded-probe scale paths) and the committed cron tick: their
    * output is approximate by design or a side effect, so they have
    * no SQL oracle. Each ANN path has an exactly-oracled recall-1
    * sibling (`q_knn_ivf_full`, `q_knn_lsh_full`,
    * `q_neardup_embedding_full`) and a recall/monotonicity spec
    * (ExtensionOpsSpec); the bench keeps the scale paths measured.
    */
  case object BenchOnly extends Surface

  /** An oracled query: verified against `oracle` and benched. */
  def apply(name: String, build: Build, oracle: String): Query =
    Query(name, build, Some(oracle), Oracled)

  def benchOnly(name: String, build: Build): Query =
    Query(name, build, None, BenchOnly)

  /** The [[VerifyOnly]] twin `<sibling>_dist` of each named sibling in
    * `family`, built by its paired closure. A twin carries its
    * sibling's oracle string itself, so both regimes answer the same
    * SQL bit-for-bit.
    */
  def distTwins(family: Seq[Query])(twins: (String, Build)*): Seq[Query] =
    twins.map { case (sibling, build) =>
      val sib = family.find(_.name == sibling).getOrElse(
        throw new NoSuchElementException(s"no query $sibling to twin"))
      Query(s"${sibling}_dist", build, sib.oracle, VerifyOnly)
    }
}
