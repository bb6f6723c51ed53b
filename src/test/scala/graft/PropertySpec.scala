package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.ScalarOps
import graft.operators.Relational

/** Property-based semantics (SURVEY §5.3): ScalaCheck generators drive
  * the data; each property is evaluated in one Spark pass over the
  * generated rows (per-sample Spark jobs would be prohibitively slow).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** The reference's row identity (`extract.py:119,127`,
    * `json.dumps(sort_keys=True)`): a SHA-256 of the name-sorted
    * columns' text, with a null sentinel (a bare `concat_ws` skips
    * nulls). The dedups compare typed columns; J3 checks them against
    * this text key.
    */
  private def canonicalRowKey(cols: Seq[String]): Column =
    sha2(concat_ws("\u0001",
      cols.sorted.map(c =>
        coalesce(col(c).cast("string"), lit("\u0002NULL"))): _*), 256)

  /** A frame's rows as sorted text; the text form keeps -0.0 apart
    * from 0.0, as the row identity must.
    */
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted

  test("F1: parseRound2 of numeric strings = 2dp round; never NaN") {
    val values = Gen.listOfN(300, Gen.chooseNum(-1e6, 1e6)).sample.get
    val got = values.map(v => f"$v%.6f").toDF("s")
      .select(ScalarOps.parseRound2($"s").as("r")).as[Double].collect()
    got.zip(values).foreach { case (r, v) =>
      assert(!r.isNaN)
      assert(math.abs(r - v) <= 0.005 + 1e-9, s"$r vs $v")
      assert(math.round(r * 100) == (r * 100).round) // at most 2dp
    }
  }

  test("F2/F3: epoch -> datetime2 -> epoch is identity on [0, 2^31)") {
    val epochs = Gen.listOfN(300, Gen.chooseNum(0L, Int.MaxValue.toLong))
      .sample.get
    val got = epochs.toDF("e")
      .select(ScalarOps.datetime2ToEpoch(
        ScalarOps.epochToDatetime2($"e")).as("back")).as[Long].collect()
    assert(got.toSeq == epochs)
  }

  test("F4/F5: status text->numeric inverts text mapping on enum domain") {
    val codes = Gen.listOfN(200, Gen.oneOf("0", "1", "2", "3")).sample.get
    val got = codes.toDF("c")
      .select(ScalarOps.statusText($"c").as("t"))
      .select(ScalarOps.statusNumeric($"t").as("n")).as[Int].collect()
    assert(got.toSeq == codes.map(_.toInt))
  }

  test("J3: anti-join dedup is idempotent and complete") {
    val rows = Gen.listOfN(150,
      Gen.zip(Gen.chooseNum(0, 40), Gen.oneOf("a", "b", "c"))).sample.get
    val current = rows.toDF("k", "v")
    val previous = rows.take(60).toDF("k", "v")
    val once = Relational.antiJoinDedup(current, previous)
    val twice = Relational.antiJoinDedup(once, previous)
    assert(once.count() == twice.count())
    // complete: nothing in the result row-matches the previous set
    val prevSet = previous.select(concat_ws("|", $"k", $"v"))
      .as[String].collect().toSet
    val remaining = once.select(concat_ws("|", $"k", $"v"))
      .as[String].collect()
    assert(remaining.forall(r => !prevSet.contains(r)))
    // and current rows NOT in previous all survive (multiset caveat:
    // whole-row dedup removes all copies of a matched row, like the
    // reference's set-membership filter, extract.py:127)
    val curOnly = rows.filterNot(r => previous.collect().map(x =>
      (x.getInt(0), x.getString(1))).contains(r))
    assert(remaining.size == curOnly.size)
  }

  test("J3: typed anti-join == the canonicalRowKey hash anti-join " +
      "(nulls, duplicate rows, NaN, signed zeros, reordered and " +
      "self-derived previous)") {
    import org.apache.spark.sql.DataFrame
    // the hash-keyed anti-join the typed key replaced, as the reference
    def hashed(cur: DataFrame, prev: DataFrame): DataFrame = {
      val key = canonicalRowKey(cur.columns.toSeq)
      cur.withColumn("__row_key", key)
        .join(prev.select(key.as("__row_key")), Seq("__row_key"),
          "left_anti")
        .drop("__row_key")
    }
    val row = for {
      k <- Gen.option(Gen.chooseNum(0, 3))
      v <- Gen.option(Gen.oneOf("a", "b"))
      d <- Gen.option(Gen.oneOf(0.0, -0.0, Double.NaN, 1.5))
      f <- Gen.option(Gen.oneOf(0.0f, -0.0f, Float.NaN, 2.5f))
    } yield (k, v, d, f)
    def sample(n: Int, seed: Long) = Gen.listOfN(n, row)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
    // fixtures keyed outside the random k domain
    val (neg, nan) = ((Option(7), Option("a"), Option(-0.0), Option(1f)),
      (Option(8), Option("b"), Option(Double.NaN), Option(Float.NaN)))
    val curRows = sample(300, 1L) ++ Seq(neg, nan, nan)
    val prevRows = sample(100, 2L) ++ curRows.take(40) ++
      Seq(neg.copy(_3 = Option(0.0)), nan)
    val current = curRows.toDF("k", "v", "d", "f")
    // previous with its columns in another order
    val previous = prevRows.toDF("k", "v", "d", "f").select("f", "d", "v", "k")
    val got = rows(Relational.antiJoinDedup(current, previous))
    assert(got == rows(hashed(current, previous)))
    // -0.0 is not 0.0, NaN is NaN, and every copy of a match goes
    assert(got.contains("7|a|-0.0|1.0") && !got.exists(_.startsWith("8|")))
    assert(curRows.diff(curRows.distinct).exists(prevRows.contains))
    // previous derived from current (a self-join)
    val derived = current.filter($"k".isNull || $"k" < 2)
    assert(rows(Relational.antiJoinDedup(current, derived)) ==
      rows(hashed(current, derived)))
    // a map column, which has no equality of its own
    val maps = current.withColumn("m", map(lit("k"), $"k"))
    val mapsPrev = maps.filter($"k" === 1)
    assert(rows(Relational.antiJoinDedup(maps, mapsPrev)) ==
      rows(hashed(maps, mapsPrev)))
  }

  test("J3: hash-keyed anti-join == the typed-key anti-join (hash " +
      "collisions, nested signed zeros and NaN, timestamp and map " +
      "columns, all-null rows, self-derived previous)") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    import org.apache.spark.sql.types._
    // the anti-join as it was before the hash key: every column a
    // null-safe join key
    def typedKeys(current: DataFrame, previous: DataFrame): DataFrame = {
      val prevName = (c: String) => s"__prev_$c"
      val prev = previous.select(
        current.columns.toSeq.map(c => col(c).as(prevName(c))): _*)
      val same = current.schema.fields.toSeq.map { f =>
        val (c, p) = (current(f.name), prev(prevName(f.name)))
        f.dataType match {
          case DoubleType | FloatType =>
            def zero(x: Column) = when(x === 0, x.cast("string"))
            (c <=> p) && (zero(c) <=> zero(p))
          // maps have no equality in Spark; compare their text
          case t if !RowOrdering.isOrderable(t) =>
            c.cast("string") <=> p.cast("string")
          case _ => c <=> p
        }
      }
      current.join(prev, same.reduce(_ && _), "left_anti")
    }
    val schema = StructType(Seq(
      StructField("a", StringType), StructField("b", StringType),
      StructField("d", DoubleType),
      StructField("arr", ArrayType(DoubleType)),
      StructField("st", StructType(Seq(StructField("x", DoubleType),
        StructField("y", FloatType)))),
      StructField("ts", TimestampType),
      StructField("m", MapType(StringType, IntegerType))))
    val t0 = java.sql.Timestamp.valueOf("2024-08-11 10:00:00")
    def orNull[T](g: Gen[T]): Gen[Any] =
      Gen.frequency[Any](4 -> g, 1 -> Gen.const(null))
    val dbl = Gen.oneOf(0.0, -0.0, Double.NaN, 1.5)
    val row = for {
      a <- orNull(Gen.oneOf("a", "b"))
      b <- orNull(Gen.oneOf("a", "b"))
      d <- orNull(dbl)
      arr <- orNull(Gen.chooseNum(0, 2).flatMap(Gen.listOfN(_, orNull(dbl))))
      st <- orNull(Gen.zip(orNull(dbl), orNull(Gen.oneOf(0.0f, -0.0f,
        Float.NaN))).map { case (x, y) => Row(x, y) })
      ts <- orNull(Gen.oneOf(t0, new java.sql.Timestamp(t0.getTime + 1000)))
      m <- orNull(Gen.oneOf(Map("k" -> 1), Map("k" -> 2), Map.empty))
    } yield Row(a, b, d, arr, st, ts, m)
    def sample(n: Int, seed: Long) = Gen.listOfN(n, row)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
    def frame(rs: Seq[Row]) = spark.createDataFrame(
      java.util.Arrays.asList(rs: _*), schema).repartition(3)
    def nulls(a: Any, b: Any) = Row(a, b, null, null, null, null, null)
    // ("a", null) and (null, "a") hash the same, as nulls leave the
    // hash unchanged; the residual keeps them apart
    val (an, na, bn, nb) =
      (nulls("a", null), nulls(null, "a"), nulls("b", null), nulls(null, "b"))
    val allNull = nulls(null, null)
    val curRows = sample(300, 3L) ++ Seq(an, nb, allNull, allNull)
    val prevRows = sample(120, 4L) ++ curRows.take(50) ++ Seq(na, bn, allNull)
    val (current, previous) = (frame(curRows), frame(prevRows))
    val hashes = frame(Seq(an, na)).select(xxhash64(
      schema.fieldNames.toSeq.map(c =>
        if (c == "m") col(c).cast("string") else col(c)): _*))
      .as[Long].collect()
    assert(hashes.distinct.length == 1, hashes.toSeq)
    val got = rows(Relational.antiJoinDedup(current, previous))
    assert(got == rows(typedKeys(current, previous)))
    // both colliding rows survive, every all-null copy goes
    assert(got.contains("a|null|null|null|null|null|null") &&
      got.contains("null|b|null|null|null|null|null"), got)
    assert(!got.contains("null|null|null|null|null|null|null"), got)
    assert(got.size < curRows.size)
    // previous derived from current (a self-join)
    val derived = current.filter($"a".isNull || $"d" === 0)
    assert(rows(Relational.antiJoinDedup(current, derived)) ==
      rows(typedKeys(current, derived)))
  }

  test("J3 stream: typed-column stream dedup == the canonicalRowKey " +
      "stream dedup (nulls, duplicate rows, NaN, signed zeros)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // the hash-keyed stream dedup the typed key replaced
    def hashed(in: DataFrame): DataFrame =
      in.withColumn("__row_key", canonicalRowKey(in.columns.toSeq))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("__row_key")
        .drop("__row_key")
    val t0 = java.sql.Timestamp.valueOf("2024-08-11 10:00:00")
    val row = for {
      k <- Gen.option(Gen.chooseNum(0, 3))
      v <- Gen.option(Gen.oneOf("a", "b"))
      d <- Gen.option(Gen.oneOf(0.0, -0.0, Double.NaN, 1.5))
      f <- Gen.option(Gen.oneOf(0.0f, -0.0f, Float.NaN, 2.5f))
      m <- Gen.chooseNum(0, 2)
    } yield (k, v, d, f, new java.sql.Timestamp(t0.getTime + m * 60000L))
    def sample(n: Int, seed: Long) = Gen.listOfN(n, row)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
    // fixtures keyed outside the random k domain
    val (neg, nan) = ((Option(7), Option("a"), Option(-0.0), Option(1f), t0),
      (Option(8), Option("b"), Option(Double.NaN), Option(Float.NaN), t0))
    val first = sample(200, 1L) ++ Seq(neg, nan, nan)
    // a re-fetch overlapping the first batch, the zero's other sign
    val second = sample(100, 2L) ++ first.take(40) ++
      Seq(neg.copy(_3 = Option(0.0)), nan)
    def run(dedup: DataFrame => DataFrame): Seq[String] = {
      val input = MemoryStream[(Option[Int], Option[String], Option[Double],
        Option[Float], java.sql.Timestamp)]
      val name = "j3_stream_" + java.util.UUID.randomUUID().toString
        .replace("-", "")
      val q = dedup(input.toDF().toDF("k", "v", "d", "f", "ts"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try Seq(first, second).foreach { b =>
        input.addData(b)
        q.processAllAvailable()
      } finally q.stop()
      rows(spark.table(name))
    }
    val got = run(graft.streaming.StreamingDedup.dedupedStream(_, "ts",
      "2 hours"))
    assert(got == run(hashed))
    // -0.0 is not 0.0, NaN is NaN, and a re-fetched row is emitted once
    assert(got.count(_.startsWith("7|a|")) == 2)
    assert(got.count(_.startsWith("8|")) == 1)
    val ids = (first ++ second).map(_.toString)
    assert(got.size == ids.distinct.size && got.size < ids.size)
  }

  test("J3 plan: HostMetrics.dedupAgainst executes an anti-join with " +
      "no Sha2 row key") {
    // and on one long hash key, with every column checked in the
    // residual; no column is a literal, since the optimizer folds a
    // constant column's check away
    import org.apache.spark.sql.catalyst.expressions.Sha2
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.types.LongType
    val payload = spark.range(200).select(
      concat(lit("h"), $"id" % 7).as("host_name"), $"id".as("timestamp"),
      when($"id" % 2 === 0, "CPU Usage").otherwise("Swap Usage")
        .as("service_name"),
      concat(lit("m"), $"id" % 3).as("metric_name"),
      ($"id" / 4).as("value"))
    val out = graft.pipelines.HostMetrics.dedupAgainst(payload,
      payload.filter($"timestamp" % 3 === 0))
    assert(out.count() == 133)
    val plan = out.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val joins = helper.collect(plan) {
      case j: BaseJoinExec if j.joinType == LeftAnti => j }
    assert(joins.size == 1, plan)
    val join = joins.head
    assert(join.leftKeys.map(_.dataType) == Seq(LongType) &&
      join.rightKeys.map(_.dataType) == Seq(LongType), plan)
    val checked = join.condition.toSeq.flatMap(_.references.map(_.name)).toSet
    payload.columns.foreach { c =>
      assert(checked(c) && checked(s"__prev_$c"), s"$c unchecked: $plan")
    }
    assert(!helper.collect(plan) { case p => p }.flatMap(_.expressions)
      .exists(_.exists(_.isInstanceOf[Sha2])), plan)
  }

  test("§3.1 longPayload parse-once == the per-family parse (bad " +
      "values, short/long/null arrays, null host and epoch, out-of-range " +
      "epoch, unlisted, subset and duplicated services)") {
    import org.apache.spark.sql.DataFrame
    import graft.model.NagiosModel
    // the melt as it was before the parse moved below the Generate:
    // every family branch zips and parses the values itself
    def perFamily(points: DataFrame, services: Seq[String]): DataFrame = {
      val tsCol = ScalarOps.epochToDatetime2(col("epoch"))
      val rowOk = col("host_name").isNotNull && tsCol.isNotNull
      val entryType = "array<struct<metric_name:string,value:double>>"
      val perService = services.map { svc =>
        val keys = NagiosModel.serviceKeys(svc)
        val vals = ScalarOps.zipToColumns(col("values"), keys)
        val gate = vals.map(_.isNotNull).reduce(_ && _)
        val entries = keys.zip(vals).map { case (k, v) =>
          struct(lit(k).as("metric_name"), v.as("value"))
        }
        coalesce(
          when(col("service_name") === svc && rowOk && gate,
            array(entries: _*)),
          array().cast(entryType))
      }
      points
        .select(col("host_name"), tsCol.as("timestamp"),
          col("service_name"),
          posexplode_outer(concat(perService: _*)).as(Seq("__pos", "m")))
        .filter(col("__pos").isNotNull)
        .select(col("host_name"), col("timestamp"), col("service_name"),
          col("m.metric_name"), col("m.value"))
    }
    val value = Gen.frequency(
      8 -> Gen.chooseNum(-1e4, 1e4).map(v => Option(f"$v%.3f")),
      1 -> Gen.oneOf("NaN", "", "garbage", "1.2.3", "2.675", "-0")
        .map(Option(_)),
      1 -> Gen.const(Option.empty[String]))
    val point = for {
      host <- Gen.frequency(9 -> Gen.oneOf("h1", "h2").map(Option(_)),
        1 -> Gen.const(Option.empty[String]))
      svc <- Gen.oneOf(NagiosModel.services :+ "Unlisted Usage")
      epoch <- Gen.frequency(
        8 -> Gen.chooseNum(0L, 2000000000L).map(Option(_)),
        1 -> Gen.const(Option.empty[Long]),
        1 -> Gen.oneOf(99999999999999999L, -99999999999999999L,
          253402300800L).map(Option(_)))
      values <- Gen.frequency(
        9 -> Gen.chooseNum(0, 7).flatMap(Gen.listOfN(_, value))
          .map(Option(_)),
        1 -> Gen.const(Option.empty[List[Option[String]]]))
    } yield (host, svc, epoch, values)
    val ok = Option(List(Option("1.00"), Option("2.00"), Option("3.00")))
    val fixtures = Seq(
      (Option("h1"), "Swap Usage", Option(1700000000L), ok), // exact
      (Option("h1"), "CPU Usage", Option(1700000000L), ok), // over-long
      (Option("h1"), "Memory Usage", Option(1700000000L), ok), // short
      (Option("h1"), "Swap Usage", Option(99999999999999999L), ok),
      (Option("h1"), "Swap Usage", Option.empty[Long], ok),
      (Option.empty[String], "Swap Usage", Option(1700000000L), ok),
      (Option("h1"), "Unlisted Usage", Option(1700000000L), ok),
      (Option("h1"), "CPU Usage", Option(1700000000L),
        Option.empty[List[Option[String]]]))
    val sample = Gen.listOfN(600, point)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(10L))
    val points = (sample ++ fixtures)
      .toDF("host_name", "service_name", "epoch", "values").repartition(3)
    Seq(NagiosModel.services, Seq("CPU Usage", "Swap Usage"),
        Seq("Memory Usage", "CPU Usage", "Memory Usage")).foreach { svcs =>
      val got = rows(graft.pipelines.HostMetrics.longPayload(points, svcs))
      assert(got == rows(perFamily(points, svcs)), svcs)
      assert(got.nonEmpty, svcs)
    }
  }

  test("as-of join == driver-side per-probe scan on random data") {
    // random probes/builds over few keys with heavy ts collisions —
    // the regime where the tagged-union window form could mis-order
    val keys = Seq("k1", "k2", "k3")
    val gen = Gen.zip(Gen.oneOf(keys), Gen.chooseNum(0, 50))
    val probeRows = Gen.listOfN(120, gen).sample.get.zipWithIndex
      .map { case ((k, t), i) => (k, t.toLong, i.toLong) }
    val buildRows = Gen.listOfN(80, gen).sample.get.zipWithIndex
      .map { case ((k, t), i) => (k, t.toLong, (1000 + i).toLong) }
    val probe = probeRows.toDF("k", "ts", "probe_id")
    val build = buildRows.toDF("k", "ts", "build_id")

    val gotRows = Relational.asOfJoin(probe, build, Seq("k"), "ts")
      .select($"probe_id", $"build_id")
      .as[(Long, Option[Long])].collect()
    // exactly one output row per probe — duplicates would vanish in
    // the map below and pass silently
    assert(gotRows.length == probeRows.size,
      s"expected ${probeRows.size} rows, got ${gotRows.length}")
    val got = gotRows.toMap

    // expected: for each probe, the build row with the max ts <= probe
    // ts on the same key; among equal build ts the LAST in event order
    // is carried (the window's last() over ties) — assert the carried
    // ts matches, and the id is any build with that (k, ts)
    val buildByKey = buildRows.groupBy(_._1)
    probeRows.foreach { case (k, pts, pid) =>
      val eligible = buildByKey.getOrElse(k, Nil).filter(_._2 <= pts)
      if (eligible.isEmpty) {
        assert(got(pid).isEmpty, s"probe $pid expected no match")
      } else {
        val bestTs = eligible.map(_._2).max
        val okIds = eligible.filter(_._2 == bestTs).map(_._3).toSet
        assert(got(pid).exists(okIds.contains),
          s"probe $pid: got ${got(pid)}, expected one of $okIds (ts=$bestTs)")
      }
    }
  }

  test("F8 pivot + melt round-trip preserves values") {
    val keys = Seq("m1", "m2", "m3")
    val rows = Gen.listOfN(80, Gen.listOfN(3,
      Gen.chooseNum(0.0, 100.0))).sample.get
      .zipWithIndex.map { case (vs, i) =>
        (i.toLong, vs.map(v => f"$v%.2f")) }
    val df = rows.toDF("id", "values")
    val wide = df.select(col("id") +:
      ScalarOps.zipToColumns(col("values"), keys): _*)
    val melted = wide.select(col("id"), explode(array(keys.map(k =>
      struct(lit(k).as("metric"), col(k).as("value"))): _*)).as("m"))
      .select(col("id"), col("m.metric"), col("m.value"))
    // every (id, metric, value) triple survives the round trip
    val back = melted.groupBy("id").pivot("metric", keys).sum("value")
    val a = wide.orderBy("id").collect().map(_.toSeq)
    val b = back.orderBy("id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("approx_count_distinct (HLL) within rsd bounds of exact") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val (approxN, exactN) = li.select(
        approx_count_distinct($"l_partkey", 0.02).as("a"),
        countDistinct($"l_partkey").as("e"))
      .as[(Long, Long)].head()
    val err = math.abs(approxN - exactN).toDouble / exactN
    assert(err < 0.06, s"HLL err $err (approx=$approxN exact=$exactN)")
  }

  test("rangeJoin == naive containment join on generated intervals") {
    import graft.operators.Relational
    val pts = Gen.listOfN(200, Gen.chooseNum(0L, 2000L)).sample.get
      .zipWithIndex.map { case (p, i) => (i.toLong, p) }
    val ivs = Gen.listOfN(60, Gen.zip(Gen.chooseNum(0L, 2000L),
        Gen.chooseNum(0L, 150L))).sample.get
      .zipWithIndex.map { case ((s, len), i) => (i.toLong, s, s + len) }
    val points = pts.toDF("pid", "pt")
    val intervals = ivs.toDF("iid", "s", "e")
    // binWidth deliberately NOT dividing interval lengths evenly
    val got = Relational.rangeJoin(points, intervals, "pt", "s", "e", 37L)
      .select($"pid", $"iid").as[(Long, Long)].collect().toSet
    val want = (for {
      (pid, pt) <- pts; (iid, s, e) <- ivs if pt >= s && pt <= e
    } yield (pid, iid)).toSet
    assert(got == want)
  }

  test("shardByBudget: shards are contiguous and within budget + one row") {
    import graft.operators.Sampling
    val weights = Gen.listOfN(300, Gen.chooseNum(1L, 400L)).sample.get
    val rows = weights.zipWithIndex.map { case (w, i) => (f"id$i%04d", w) }
    val df = rows.toDF("id", "w")
    val got = Sampling.shardByBudget(df, "id", "w", budget = 1000L)
      .select($"id", $"w", $"shard").as[(String, Long, Long)]
      .collect().sortBy(_._1)
    // shard ids never decrease in id order (contiguity)
    assert(got.map(_._3).sliding(2).forall(p => p.head <= p.last))
    // prefix-sum boundary invariant: a shard closes as soon as the
    // running sum crosses the budget, so its total can exceed the
    // budget only by its LAST (closing) row's weight
    got.groupBy(_._3).values.foreach { shard =>
      val total = shard.map(_._2).sum
      val lastW = shard.maxBy(_._1)._2
      assert(total <= 1000L + lastW,
        s"shard ${shard.head._3} holds $total > budget + closing $lastW")
    }
  }

  test("redactPii is idempotent and digit-count monotone on random text") {
    import graft.operators.TextOps
    val frag = Gen.oneOf("word", "a@b.co", "10.1.2.3", "123-45-6789",
      "555-123-4567", "42", "x_y", "@", ".", "-")
    val texts = Gen.listOfN(200,
      Gen.listOfN(8, frag).map(_.mkString(" "))).sample.get
    val rows = texts.toDF("t")
      .select(TextOps.redactPii($"t").as("once"))
      .select($"once", TextOps.redactPii($"once").as("twice"))
      .as[(String, String)].collect()
    val emailRe = graft.operators.TextOps.piiPatterns.head._1.r
    rows.foreach { case (once, twice) =>
      assert(once == twice, s"not idempotent: $once")   // tags carry no PII shapes
      // no email-shaped span survives (bare '@' tokens legitimately do)
      assert(emailRe.findFirstIn(once).isEmpty, s"email survived: $once")
    }
  }

  test("repetitionStats fractions bounded, count consistent (random docs)") {
    import graft.operators.TextOps
    val texts = Gen.listOfN(150, Gen.listOfN(12,
      Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))).sample.get
    val rows = texts.toDF("t")
      .select(TextOps.repetitionStats($"t", 2).as("r"))
      .select($"r.n_tokens", $"r.dup_token_frac",
        $"r.top_ngram_count", $"r.top_ngram_frac")
      .as[(Long, Double, Long, Double)].collect()
    rows.foreach { case (n, df, tc, tf) =>
      assert(n == 12)
      assert(df >= 0.0 && df <= 1.0 && tf >= 0.0 && tf <= 1.0)
      assert(tc >= 1 && tc <= 11)      // 11 2-grams exist; mode at least 1
    }
  }

  test("dedupCorpusLines with an unreachable threshold is identity") {
    import graft.operators.Dedup
    val lineGen = Gen.oneOf("header", "alpha beta", "", "x y z", "footer")
    val docs = Gen.listOfN(60, Gen.listOfN(4, lineGen)
      .map(_.mkString("\n"))).sample.get.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    val out = Dedup.dedupCorpusLines(df, "doc_id", "text", 1000L)
      .as[(Long, String)].collect().toMap
    docs.foreach { case (id, t) =>
      assert(out(id) == t, s"doc $id changed under no-op threshold")
    }
  }

  test("PqSqDist: symmetric, zero on self, matches plain double L2 " +
      "within rounding slack (random float vectors)") {
    import graft.functions.VectorExpressions
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-10f, 10f))
    val pairs = Gen.listOfN(150, Gen.zip(vecGen, vecGen)).sample.get
    val got = pairs.toDF("a", "b").select(
        VectorExpressions.pqSqDist($"a", $"b").cast("double").as("ab"),
        VectorExpressions.pqSqDist($"b", $"a").cast("double").as("ba"),
        VectorExpressions.pqSqDist($"a", $"a").cast("double").as("aa"))
      .as[(Double, Double, Double)].collect()
    got.zip(pairs).foreach { case ((ab, ba, aa), (a, b)) =>
      assert(ab == ba, "squared L2 must be symmetric")
      assert(aa == 0.0, "self-distance must be exactly zero")
      val plain = a.zip(b)
        .map { case (x, y) => (x.toDouble - y.toDouble) *
          (x.toDouble - y.toDouble) }.sum
      // each of the 8 terms is rounded at 1e-12 before the exact sum
      assert(math.abs(ab - plain) <= 8 * 5e-13 + 1e-9, s"$ab vs $plain")
    }
  }

  test("PqDot: bit-identical to the exploded round/sum/decimal chain " +
      "(the oracle formulation); symmetric (random float vectors)") {
    import graft.functions.VectorExpressions
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-10f, 10f))
    val pairs = Gen.listOfN(150, Gen.zip(vecGen, vecGen)).sample.get
    val dec = "decimal(38,12)"
    val df = pairs.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "a", "b")
    // the formulation every oracle replays: per-component TOP-LEVEL
    // round (codegen'd — zip_with lambdas evaluate interpreted and
    // Round's interpreted path rounds a shortest-decimal repr, which
    // disagrees with codegen on ~0.1% of products), decimal sum
    val exploded = df
      .select($"id", posexplode($"a").as(Seq("k", "x")), $"b")
      .select($"id", round($"x".cast("double") *
        element_at($"b", $"k".cast("int") + 1).cast("double"), 12)
        .cast(dec).as("t"))
      .groupBy($"id").agg(sum($"t").cast(dec).cast("string").as("chain"))
    val fused = df.select($"id",
      VectorExpressions.pqDot($"a", $"b").cast(dec).cast("string")
        .as("fused"),
      VectorExpressions.pqDot($"b", $"a").cast(dec).cast("string")
        .as("rev"))
    fused.join(exploded, "id")
      .as[(Long, String, String, String)].collect()
      .foreach { case (_, f, rev, chain) =>
        assert(f == chain, "fused kernel must equal the exploded chain")
        assert(f == rev, "dot product must be symmetric")
      }
  }

  test("DecimalRound: fast path == exact BigDecimal chain " +
      "(random sweep + boundary-adversarial values)") {
    import graft.functions.DecimalRound
    val rnd = new scala.util.Random(42)
    def check(t: Double): Unit =
      assert(DecimalRound.unscaled12(t) == DecimalRound.slow12(t),
        s"mismatch at t=$t")
    // magnitudes spanning the fast-path range and past its 1e3 cutoff
    (1 to 200000).foreach { _ =>
      val mag = math.pow(10, rnd.nextInt(10) - 5)
      check((rnd.nextDouble() * 2 - 1) * mag)
    }
    // exact HALF_UP boundaries and near-boundary values (the fallback
    // window): k + 0.5 scale-12 units, both signs
    (1 to 20000).foreach { _ =>
      val k = rnd.nextInt(1 << 20).toLong
      val base = (k * 2 + 1) * 5e-13 // exactly (k+0.5)e-12 in decimal
      check(base); check(-base)
      check(base + 1e-18); check(base - 1e-18)
    }
    // float-product values, the kernels' actual input distribution
    (1 to 50000).foreach { _ =>
      val x = rnd.nextFloat() * 20 - 10
      val y = rnd.nextFloat() * 20 - 10
      check(x.toDouble * y.toDouble)
    }
  }

  test("FastRound rewrite: bit-identical to Spark's Round across " +
      "scales, boundaries, NaN/Inf; plan actually rewritten") {
    import graft.functions.DecimalRound
    val rnd = new scala.util.Random(7)
    val vals = Seq(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, 0.0, -0.0, 1e-20, -1e-20, 0.5e-6,
        -0.5e-6, 1234.5678953, 4499.9999995, 1e16, -1e16) ++
      (1 to 100000).map { _ =>
        (rnd.nextDouble() * 2 - 1) * math.pow(10, rnd.nextInt(12) - 6) }
    val df = vals.toDF("x")
    Seq(0, 2, 6, 12, 15).foreach { s =>
      // rule OFF -> Spark's Round; rule ON -> FastRound
      spark.conf.set("spark.graft.fastRound.enabled", "false")
      val viaSpark = df.select(round($"x", s)).as[Double].collect()
      spark.conf.set("spark.graft.fastRound.enabled", "true")
      val viaFast = df.select(round($"x", s)).as[Double].collect()
      viaSpark.zip(viaFast).zip(vals).foreach { case ((a, b), v) =>
        assert(java.lang.Double.compare(a, b) == 0 ||
          (a.isNaN && b.isNaN), s"scale $s at $v: $a != $b")
      }
      // the helper agrees with Spark's value too (catches a rewrite
      // that silently failed to fire leaving both sides as Round)
      vals.filterNot(v => v.isNaN || v.isInfinite).foreach { v =>
        assert(java.lang.Double.compare(
          DecimalRound.fastRound(v, s), DecimalRound.slowRound(v, s)) == 0,
          s"helper mismatch at $v scale $s")
      }
    }
    // the fused round→decimal chain: identical decimals either way,
    // incl. NaN/Inf→null and the beyond-long-unscaled BigDecimal range
    Seq(6, 12).foreach { s =>
      val dec = s"decimal(38,$s)"
      spark.conf.set("spark.graft.fastRound.enabled", "false")
      val viaSpark = df.select(round($"x", s).cast(dec).cast("string"))
        .as[String].collect()
      spark.conf.set("spark.graft.fastRound.enabled", "true")
      val viaFast = df.select(round($"x", s).cast(dec).cast("string"))
        .as[String].collect()
      viaSpark.zip(viaFast).zip(vals).foreach { case ((a, b), v) =>
        assert(a == b, s"decimal chain scale $s at $v: $a != $b")
      }
    }
    // ANSI precision overflow: both forms raise the same Spark error
    def outcome(enabled: Boolean): String = {
      spark.conf.set("spark.graft.fastRound.enabled", enabled.toString)
      try Seq(1e30).toDF("x")
        .select(round($"x", 12).cast("decimal(38,12)").cast("string"))
        .as[String].collect()(0)
      catch { case e: Throwable =>
        var c: Throwable = e
        while (c.getCause != null && !c.getClass.getName.contains("Spark"))
          c = c.getCause
        s"THROW ${c.getClass.getSimpleName}"
      }
    }
    assert(outcome(enabled = false) == outcome(enabled = true),
      "overflow outcome parity")
    // plan asserts need a non-local child (a literal LocalRelation
    // constant-folds the whole projection away)
    val li = spark.read
      .parquet(s"${sf("sf0.001")}/lineitem.parquet")
      .select($"l_extendedprice".cast("double").as("x"))
    val plan = li.select(round($"x", 6))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("fast_round"),
      s"rewrite did not fire:\n$plan")
    val plan2 = li.select(round($"x", 12).cast("decimal(38,12)"))
      .queryExecution.optimizedPlan.toString
    assert(plan2.contains("fast_round_decimal"),
      s"cast fusion did not fire:\n$plan2")
  }

  test("counterRate: matches a reference per-key fold on random " +
      "streams (resets, duplicate timestamps, shuffled input)") {
    import graft.operators.TimeSeries
    val rnd = new scala.util.Random(11)
    val rows = (1 to 1200).map { i =>
      val key = s"h${rnd.nextInt(8)}"
      val ts = new java.sql.Timestamp(rnd.nextInt(600) * 1000L)
      (key, ts, i.toLong, (rnd.nextInt(2000) / 2.0))
    }
    val got = TimeSeries.counterRate(
        scala.util.Random.shuffle(rows).toDF("k", "ts", "eid", "v"),
        Seq("k"), "ts", "v", "eid")
      .select($"k", $"ts", $"value", $"increase", $"rate_per_s")
      .as[(String, java.sql.Timestamp, Double, Double, Double)]
      .collect().toSet
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val expected = rows.groupBy(_._1).flatMap { case (k, ks) =>
      val ordered = ks.sortBy(r => (r._2.getTime, r._3))
      ordered.zip(ordered.drop(1)).flatMap { case (p, c) =>
        val (pe, ce) = (p._2.getTime / 1000, c._2.getTime / 1000)
        if (ce > pe) {
          val inc = if (c._4 >= p._4) c._4 - p._4 else c._4
          Some((k, c._2, c._4, r6(inc), r6(inc / (ce - pe))))
        } else None
      }
    }.toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("temperatureRebalance: probabilities in (0, 1], ordered " +
      "opposite to counts, smallest stratum whole (random strata)") {
    import graft.operators.Sampling
    val strata = Gen.listOfN(400,
      Gen.oneOf("a", "b", "c", "d")).sample.get.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    val df = strata.toDF("id", "s")
    val got = Sampling.temperatureRebalance(df, "id", "s")
      .as[(Long, String, Double, Boolean)].collect()
    val counts = strata.groupBy(_._2).view.mapValues(_.size).toMap
    val p = got.map(r => r._2 -> r._3).toMap
    p.foreach { case (_, prob) => assert(prob > 0 && prob <= 1.0) }
    val minStratum = counts.minBy(_._2)._1
    assert(p(minStratum) == 1.0, "smallest stratum must keep all")
    // bigger stratum → smaller (or equal) keep probability
    for (x <- p.keys; y <- p.keys if counts(x) < counts(y))
      assert(p(x) >= p(y), s"$x(${counts(x)}) vs $y(${counts(y)})")
    // every smallest-stratum row actually kept
    assert(got.filter(_._2 == minStratum).forall(_._4))
  }

  test("mergePhrases: idempotent (re-merging merged text is identity) " +
      "and token-count consistent, on random corpora") {
    import graft.operators.TextOps
    val vocab = Seq("aa", "bb", "cc", "dd", "ee")
    val gen = Gen.listOfN(200,
      Gen.listOfN(12, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val texts = gen.sample.get
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val phrases = Seq(("aa", "bb"), ("cc", "dd"))
    val once = TextOps.mergePhrases(df, "id", "text", phrases)
    val got = once.as[(Long, String, Long, Long)].collect()
    // n_after = n_before − n_merged, and at most every token pair fuses
    got.foreach { case (_, merged, n, m) =>
      val after = if (merged.isEmpty) 0 else merged.split(" ").length
      assert(after == n - m && m <= n / 2, s"$merged n=$n m=$m")
    }
    // the joiner makes merged tokens leave the pair vocabulary, so a
    // second pass over the merged text finds nothing to fuse
    val twice = TextOps.mergePhrases(
        once.select($"id", $"text_merged".as("text")), "id", "text",
        phrases)
      .as[(Long, String, Long, Long)].collect()
    assert(twice.forall(_._4 == 0L))
    assert(twice.map(r => r._1 -> r._2).toMap ==
      got.map(r => r._1 -> r._2).toMap)
  }

  test("sampleQuantiles: monotone in q; values drawn from the data " +
      "(random inputs)") {
    import graft.operators.Profiling
    val values = Gen.listOfN(500, Gen.chooseNum(-1e4, 1e4)).sample.get
    val df = values.zipWithIndex
      .map { case (v, i) => (s"r$i", v) }.toDF("id", "x")
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.95)
    val got = Profiling.sampleQuantiles(df, "id", "x", 64, qs)
      .as[(Double, Long, Double)].collect().sortBy(_._1)
    assert(got.length == qs.length)
    // quantiles are non-decreasing in q and always actual data values
    got.sliding(2).foreach {
      case Array(a, b) => assert(a._3 <= b._3, s"$a !<= $b")
      case _ =>
    }
    val vset = values.toSet
    got.foreach(r => assert(vset.contains(r._3), r.toString))
  }

  test("rateStream sortableTie: encoded strings sort exactly as the " +
      "native values across every supported tiebreak type") {
    import org.apache.spark.sql.types._
    import graft.streaming.StreamingDedup.sortableTie
    val rnd = new scala.util.Random(8L)
    def check[A](dt: DataType, vs: Seq[A])(cmp: (A, A) => Int): Unit = {
      val enc = sortableTie("rateStream", dt)
      val native = vs.sortWith((a, b) => cmp(a, b) < 0)
      val encoded = vs.sortBy(v => enc(v.asInstanceOf[Any]))
      // encodings must be order-ISOMORPHIC: equal iff equal, and the
      // two sorts agree position by position
      assert(native.zip(encoded).forall { case (a, b) => cmp(a, b) == 0 },
        s"$dt: $native vs $encoded")
    }
    val longs = Seq.fill(200)(rnd.nextLong()) ++
      Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue)
    check(LongType, longs)(java.lang.Long.compare)
    check(IntegerType,
      Seq.fill(200)(rnd.nextInt()) ++ Seq(0, -1, Int.MaxValue, Int.MinValue))(
      java.lang.Integer.compare)
    val doubles = Seq.fill(200)(
        java.lang.Double.longBitsToDouble(rnd.nextLong()))
      .filterNot(_.isNaN) ++
      Seq(0.0, -0.0, 1.5e308, -1.5e308, 4.9e-324, -4.9e-324,
        Double.PositiveInfinity, Double.NegativeInfinity)
    // java.lang.Double.compare is the -0.0 < 0.0 total order Spark's
    // orderBy uses on the non-NaN domain
    check(DoubleType, doubles)(java.lang.Double.compare)
    check(StringType,
      Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(8)).mkString) ++
        Seq("", "0", "00", "a", "A"))(
      (a: String, b: String) => a.compareTo(b))
    val ts = Seq.fill(100)(new java.sql.Timestamp(rnd.nextLong() % 4102444800000L))
    check(TimestampType, ts)((a: java.sql.Timestamp, b) => a.compareTo(b))
  }
}
