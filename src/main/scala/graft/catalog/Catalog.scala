package graft.catalog

import org.apache.spark.sql.SparkSession

/** Assembles the query families into one catalog, selects from it,
  * and builds the session the catalog's mains (`Verify`, `Bench`,
  * `PlanDump`) run in.
  */
object Catalog {

  /** Every query by name. A name declared twice throws, naming it: a
    * map would silently keep the last one.
    */
  def assemble(families: Seq[Query]*): Map[String, Query] = {
    val all = families.flatten
    val dups = all.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    all.map(q => q.name -> q).toMap
  }

  /** The named queries of `surface`, or all of it when `only` is empty.
    * A name the surface does not hold throws, naming it, so a typo
    * cannot select nothing.
    */
  def select(surface: Map[String, Query.Build],
      only: Option[Iterable[String]]): Map[String, Query.Build] =
    only match {
      case None => surface
      case Some(names) =>
        val wanted = names.toSet
        val unknown = wanted -- surface.keySet
        require(unknown.isEmpty,
          s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
        surface.filter { case (k, _) => wanted(k) }
    }

  /** local[SPARK_GRAFT_CPUS] with as many shuffle partitions, UTC, no
    * UI and the library's extensions (the posture a real cluster runs
    * with; Verify re-proves FastRound's bit parity under it). `extra`
    * adds static settings, which must be set before the session exists.
    */
  def session(extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
