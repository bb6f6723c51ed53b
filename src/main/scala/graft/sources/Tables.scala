package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the harness testdata (TESTDATA.md).
  *
  * Plain `spark.read.parquet` so Catalyst's scan-level optimizations
  * (column pruning → `ReadSchema`, predicate pushdown → `PushedFilters`,
  * partition pruning) all apply — SURVEY §4's pushdown rewrites come for
  * free as long as nothing opaque sits between the scan and the filters.
  * Every read is served from `graft.Staged`, keyed by the path's
  * version, so a table rewritten in place is read again.
  */
object Tables {
  /** Parquet read served once per (session, path, version of the path)
    * from `graft.Staged`: `read.parquet` re-infers the schema from file
    * footers on EVERY call, a metadata job that a slow-IO host turns
    * into a per-query stall (observed: a 0.1 s query spending minutes
    * in footer reads during a host IO degradation). A rewrite of the
    * path (a file's length or mtime, a dir's file listing) changes its
    * version, so the next call reads it again and the superseded
    * relation is dropped. A read is not a staging: it records no
    * consumer.
    */
  def memoRead(spark: SparkSession, path: String): DataFrame =
    graft.Staged.cell(spark, "parquet", path)(spark.read.parquet(path))

  /** The table `name` of `sfDir`, through [[memoRead]]. */
  def loadImmutable(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memoRead(spark, s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = loadImmutable(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = loadImmutable(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = loadImmutable(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = loadImmutable(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = loadImmutable(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = loadImmutable(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = loadImmutable(s, d, "region")
  /** Normalize `events.ts` to session-zoned TimestampType whatever the
    * generator wrote, so every downstream operator (and the DuckDB
    * oracle, which reads the same file as a naive timestamp under a
    * UTC session) sees identical values:
    *   - INT64 TIMESTAMP(NANOS) (early harness data): vectorized
    *     reader rejects it — read nanos as long (`nanosAsLong`) and
    *     integer-`div` down to micros (`/` goes through double and
    *     loses precision above 2^53 ns, and truncation matches
    *     DuckDB's TIMESTAMP_NS → TIMESTAMP);
    *   - plain `timestamp[us]` without UTC adjustment (current data):
    *     Spark reads TIMESTAMP_NTZ; cast to TIMESTAMP, which under the
    *     UTC session timezone is value-identical to DuckDB's naive
    *     read.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = loadImmutable(s, d, "events")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts",
        timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = loadImmutable(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = loadImmutable(s, d, "embeddings")

  /** Bucketed copy of a table (bucketBy + sortBy on `key`), built as
    * the staging `bucketed_<name>_<key>_<buckets>` of `d`. At cluster
    * scale the bucketed copy is the long-lived layout paid once at
    * ingest; every subsequent equi-join/agg on `key` plans with NO
    * exchange. Each build writes an external table with a name of its
    * own under the session's staging root, so a new session or a
    * rewritten table builds its own copy and never overwrites one that
    * another session still reads; the files go when the session is
    * released or its SparkContext stops.
    */
  def bucketed(s: SparkSession, d: String, name: String, key: String,
      buckets: Int): DataFrame =
    graft.Staged(s, s"bucketed_${name}_${key}_$buckets", d) {
      val table = s"graft_b_${name}_${key}_${buckets}_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      graft.operators.Relational.writeBucketed(loadImmutable(s, d, name),
        table, Seq(key), buckets,
        new java.io.File(graft.Staged.root(s), table).getPath)
      s.table(table)
    }
}
