package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge => ExpressionUtils}

/** Scalar function surface F1–F14 (SURVEY §2.7), each a pure
  * `Column => Column` built from codegen'd Catalyst built-ins — no UDFs
  * anywhere, so every one stays inside whole-stage codegen and is
  * foldable/pushable by the optimizer.
  */
object ScalarOps {

  /** F1 — `convert_to_int` (`extract.py:53-61`): anything → double
    * rounded to 2 dp; NaN and unparseable input → null.
    *
    * `try_cast` yields null on a bad parse (matching the reference's
    * ValueError branch — plain `cast` throws under Spark 4's default
    * ANSI mode); `isnan` guard matches its `math.isnan` branch. Round
    * AFTER the NaN check: round(NaN) is NaN and would leak through.
    * The reference rounds with `float(f"{v:.2f}")`, i.e. half-even on
    * the exact binary value ("2.675" → 2.67), which is
    * [[BinaryRound]], not Spark's half-up `round` (→ 2.68).
    */
  def parseRound2(c: Column): Column = {
    val d = c.try_cast("double")
    when(d.isNull || isnan(d), lit(null).cast("double"))
      .otherwise(ExpressionUtils.column(
        BinaryRound(ExpressionUtils.expression(d), 2)))
  }

  /** F2 — epoch seconds → `'yyyy-MM-dd HH:mm:ss'` string
    * (`extract.py:64-67`). The reference uses naive local time; the
    * engine pins the session to UTC so the mapping is deterministic.
    * Null outside years 0001–9999 UTC; far-out epochs overflow otherwise.
    */
  def epochToDatetime2(c: Column): Column =
    when(c.between(-62135596800L, 253402300799L),
      date_format(timestamp_seconds(c), "yyyy-MM-dd HH:mm:ss"))

  /** F3 — datetime string → epoch seconds, null on parse failure
    * (`url_service_status_InfluxDB_insert.py:102`). Inverse of F2.
    */
  def datetime2ToEpoch(c: Column): Column =
    unix_timestamp(try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")))

  /** F4 — status code → text with default "UNKNOWN"
    * (`url...py:26-31,107`). CASE chain folds to a codegen'd switch.
    */
  def statusText(code: Column): Column =
    when(code === "0", "OK")
      .when(code === "1", "WARNING")
      .when(code === "2", "CRITICAL")
      .otherwise("UNKNOWN")

  /** F5 — status text → numeric with default −1 (`url...py:32-37,108`). */
  def statusNumeric(text: Column): Column =
    when(text === "OK", 0)
      .when(text === "WARNING", 1)
      .when(text === "CRITICAL", 2)
      .when(text === "UNKNOWN", 3)
      .otherwise(-1)

  /** F6+F7 — case-insensitive substring routing predicate
    * (`load_to_db.py:36`): does the lower-cased service name contain the
    * family token?
    */
  def familyPredicate(serviceName: Column, family: String): Column =
    lower(serviceName).contains(lit(family))

  /** Derived metric-family column for partitioned routing
    * (`load_to_db.py:34-48`): first matching family in registry order,
    * null if none (the reference logs-and-skips unmatched families —
    * P5).
    */
  def metricFamily(serviceName: Column): Column =
    graft.model.NagiosModel.metricFamilies.foldRight(
        lit(null).cast("string")) { (fam, rest) =>
      when(familyPredicate(serviceName, fam), lit(fam)).otherwise(rest)
    }

  /** F8 — positional zip of a value array into named columns
    * (`extract.py:86-93`): the registry's k-th key takes the array's
    * k-th element, parsed via F1. A short array yields nulls for the
    * missing tail, which the completeness gate (P3) then drops —
    * matching the reference's missing-key semantics.
    */
  def zipToColumns(valueArray: Column, keys: Seq[String]): Seq[Column] =
    keys.zipWithIndex.map { case (k, i) =>
      parseRound2(try_element_at(valueArray, lit(i + 1))).as(k)
    }

  /** F12 — rolling extraction window lower bound: now − `hours` as
    * epoch seconds (`extract.py:28-31`; 25 h for a 24 h cadence = 1 h
    * deliberate overlap).
    */
  def lookbackEpoch(hours: Int): Column =
    unix_timestamp(current_timestamp() - expr(s"INTERVAL $hours HOURS"))

  /** F14 — date-stamped label for backup/quarantine paths
    * (`load_to_db.py:17-18`).
    */
  def dateStamp: Column = date_format(current_date(), "yyyyMMdd")

  /** F10 — polymorphic customvars normalization (`url...py:87-95`).
    *
    * The API returns customvars either as a map `{NAME: value}` or as a
    * list `[{name, value}]`. Given both pre-parsed shapes (one of which
    * is null per row), produce a single map and look up `key` with a
    * default — `coalesce` over the two shapes then over the default,
    * exactly the reference's isinstance branching.
    */
  def customVar(asMap: Column, asList: Column, key: String,
      default: String): Column = {
    // list shape: take the LAST matching entry, like the reference's
    // dict comprehension (last-wins on duplicate names). No
    // map_from_entries — that throws DUPLICATED_MAP_KEY on repeats the
    // reference accepts silently.
    val matches = filter(asList, e => e.getField("name") === key)
    val fromList = when(size(matches) > 0,
      element_at(matches, -1).getField("value"))
    val fromMap = element_at(asMap, key)
    coalesce(when(asMap.isNotNull, fromMap)
      .when(asList.isNotNull, fromList), lit(default))
  }
}
