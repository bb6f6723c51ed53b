package graft

import org.apache.spark.sql.functions._
import graft.sources.Sinks

/** K1–K6 sink round-trips, including a real JDBC write/read against
  * embedded Derby (stands in for the reference's MSSQL, K4).
  */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graftsinks").toString

  private lazy val payload = Seq(
    ("web01", "2024-08-11 19:00:00", "CPU Usage", 42.12),
    ("web02", "2024-08-11 19:00:00", "CPU Usage", 17.5)
  ).toDF("host_name", "timestamp", "service_name", "percent_used")

  test("K1 json sink round-trip") {
    val d = tmp()
    Sinks.writeJson(payload, d)
    val back = spark.read.json(d)
    assert(back.count() == 2)
    assert(back.columns.sorted.toSeq ==
      Seq("host_name", "percent_used", "service_name", "timestamp"))
  }

  test("K1 single-file JSON array compat sink (extract.py:145 shape)") {
    val f = tmp() + "/payload.json"
    Sinks.writeJsonArrayFile(payload, f)
    // one physical file, one JSON array, parseable by any consumer
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(f))
    assert(text.trim.startsWith("[") && text.trim.endsWith("]"))
    val back = spark.read.option("multiLine", "true").json(f)
    assert(back.count() == 2)
    assert(back.columns.toSeq ==
      Seq("host_name", "percent_used", "service_name", "timestamp"))
    // driver-size contract is enforced, not silently truncated
    val big = spark.range(100).selectExpr("id", "id * 2 AS v")
    val e = intercept[IllegalArgumentException] {
      Sinks.writeJsonArrayFile(big, tmp() + "/too_big.json", maxRows = 50)
    }
    assert(e.getMessage.contains("line-delimited"))
    // null fields stay in the payload ("k": null), like json.dump —
    // dropping keys would change the canonical row shape
    val withNull = Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("id", "v")
    val f2 = tmp() + "/nulls.json"
    Sinks.writeJsonArrayFile(withNull, f2)
    val t2 = java.nio.file.Files.readString(java.nio.file.Paths.get(f2))
    assert(t2.contains("\"v\":null"), t2)
  }

  test("K2 csv sink round-trip with header") {
    val d = tmp()
    Sinks.writeCsv(payload, d)
    val back = spark.read.option("header", "true").csv(d)
    assert(back.count() == 2 && back.columns.length == 4)
  }

  test("ORC archive pair: typed round-trip, filter pushdown and " +
      "column pruning reach the scan") {
    val d = tmp()
    // exercise the types the media/metrics pipelines carry: timestamp,
    // array, binary, nested struct
    val typed = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        Seq(1.5f, 2.5f), "payload-a"),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
        Seq(3.5f), "payload-b"))
      .toDF("id", "ts", "vec", "s")
      .withColumn("bin", $"s".cast("binary"))
      .withColumn("meta", struct($"id".as("k"), $"s".as("v")))
    Sinks.writeOrc(typed, d)
    val back = Sinks.readOrc(spark, d)
    // file reads relax nullability (no NOT NULL metadata in the
    // stripe footer) — names and types are the contract
    assert(back.schema.sql.replace(" NOT NULL", "") ==
      typed.schema.sql.replace(" NOT NULL", ""))
    assert(back.orderBy($"id").collect().toSeq ==
      typed.orderBy($"id").collect().toSeq)
    // pushdown: the id filter reaches the ORC scan; projection prunes
    val q = back.filter($"id" === 2L).select($"s")
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(id), EqualTo(id,2)]"),
      physical)
    assert(!physical.contains("vec"), "projection should prune vec")
    assert(q.as[String].collect().toSeq == Seq("payload-b"))
  }

  test("K6 versioned snapshot + quarantine failure path") {
    val base = tmp()
    Sinks.writeVersioned(payload, base, "20240811")
    assert(spark.read.parquet(s"$base/run_date=20240811").count() == 2)

    val qbase = tmp()
    val res = Sinks.writeWithQuarantine(payload, qbase, "20240811") { _ =>
      throw new RuntimeException("simulated sink outage")
    }
    assert(res.isLeft)
    assert(spark.read.parquet(s"$qbase/failed_run_date=20240811")
      .count() == 2)
    val ok = Sinks.writeWithQuarantine(payload, qbase, "20240812") { df =>
      Sinks.writeVersioned(df, qbase + "/ok", "20240812")
    }
    assert(ok.isRight)
  }

  test("K4 jdbc append + read back (embedded Derby)") {
    val url = s"jdbc:derby:memory:graftdb;create=true"
    Sinks.writeJdbc(payload, url, "host_cpu_usage")
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "host_cpu_usage").load()
    assert(back.count() == 2)
    assert(back.columns.map(_.toLowerCase).sorted.toSeq ==
      Seq("host_name", "percent_used", "service_name", "timestamp"))
    // append semantics: second write doubles rows (batched INSERT path)
    Sinks.writeJdbc(payload, url, "host_cpu_usage")
    val again = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "host_cpu_usage").load()
    assert(again.count() == 4)
    // the caller's Properties object is never mutated, and a
    // caller-chosen batchsize wins over the default
    val callerProps = new java.util.Properties()
    callerProps.setProperty("batchsize", "500")
    Sinks.writeJdbc(payload, url, "host_cpu_usage", callerProps)
    assert(callerProps.size == 1 &&
      callerProps.getProperty("batchsize") == "500")
  }

  test("K4 MSSQL end-to-end through a wire-free stub driver: " +
      "datetime2 microseconds reach setTimestamp intact, INSERT text " +
      "is dialect-built against the PRE-CREATED table schema, " +
      "batchsize bounds executeBatch (VERDICT r10 task 5)") {
    import graft.jdbcstub.StubSqlServer
    // the reference's deployment mode (load_to_db.py:27-56): a DBA
    // pre-created host_cpu_usage with a datetime2 timestamp column;
    // the stub's schema probe reports exactly that table
    StubSqlServer.reset(Seq(
      StubSqlServer.nvarchar("host_name"),
      StubSqlServer.datetime2("timestamp"),
      StubSqlServer.nvarchar("service_name"),
      StubSqlServer.float8("percent_used")))
    // 5 rows, sub-millisecond timestamp precision — DATETIME would
    // floor these to 3ms ticks; datetime2(7) must see them exactly
    val rows = (1 to 5).map { i =>
      ("web%02d".format(i),
        java.sql.Timestamp.valueOf(s"2024-08-11 19:00:0$i.12345$i"),
        "CPU Usage", 40.0 + i)
    }.toDF("host_name", "timestamp", "service_name", "percent_used")
      .coalesce(1) // one partition: batch boundaries are deterministic
    val props = new java.util.Properties()
    props.setProperty("driver", "graft.jdbcstub.StubSqlServerDriver")
    props.setProperty("batchsize", "2")
    Sinks.writeJdbc(rows,
      "jdbc:sqlserver://stub:1433;databaseName=metrics",
      "host_cpu_usage", props)
    // the INSERT Spark prepared: dialect-quoted, every column, 4
    // placeholders — the reference's dynamic SQL re-expressed by
    // JdbcUtils.getInsertStatement against the probed table schema
    val insert = StubSqlServer.preparedSql.toArray(Array.empty[String])
      .filter(_.startsWith("INSERT"))
    assert(insert.length >= 1, StubSqlServer.preparedSql.toString)
    assert(insert.head.contains("host_cpu_usage") &&
      insert.head.count(_ == '?') == 4 &&
      Seq("host_name", "timestamp", "service_name", "percent_used")
        .forall(insert.head.contains), insert.head)
    // datetime2 fidelity: every bound Timestamp carries its full
    // microsecond value (nanos = 123451000..123455000) — nothing
    // rounded to DATETIME's 3-1/3ms ticks anywhere in the write path
    val ts = StubSqlServer.boundTimestamps
      .toArray(Array.empty[(Int, java.sql.Timestamp)])
    assert(ts.length == 5, ts.mkString(","))
    assert(ts.forall(_._1 == 2), "timestamp binds at ordinal 2")
    assert(ts.map(_._2.getNanos).sorted.toSeq ==
      (1 to 5).map(i => 123450000 + i * 1000), ts.mkString(","))
    // batching: 5 rows at batchsize=2 -> executeBatch sees 2, 2, 1;
    // the transactional path commits exactly once per partition
    assert(StubSqlServer.batchSizes.toArray(Array.empty[Integer])
      .map(_.intValue).toSeq == Seq(2, 2, 1),
      StubSqlServer.batchSizes.toString)
    assert(StubSqlServer.commits.get == 1,
      s"commits=${StubSqlServer.commits.get}")
    // values round-trip too: doubles bit-exact, strings verbatim
    assert(StubSqlServer.boundDoubles
      .toArray(Array.empty[(Int, java.lang.Double)])
      .map(_._2.doubleValue).sorted.toSeq ==
      (1 to 5).map(40.0 + _))
  }

  test("K4 MSSQL dialect mapping (the reference's actual target, " +
      "load_to_db.py:27) — pinned without a live server") {
    // The reference INSERTs into PRE-CREATED host_{type}_usage tables
    // (it never issues DDL), and writeJdbc's append mode is the same
    // contract: driver-typed setTimestamp parameters land in whatever
    // column type the DBA created (datetime2 included). Spark's
    // dialect only decides DDL when Spark CREATES the table — and
    // there it emits DATETIME (3ms granularity), so a deployment that
    // needs datetime2 precision must pre-create the table, exactly
    // the reference's mode. This spec pins the dialect resolution and
    // the mappings so a Spark upgrade changing them is caught here,
    // not in production.
    import org.apache.spark.sql.jdbc.JdbcDialects
    import org.apache.spark.sql.types._
    val d = JdbcDialects.get("jdbc:sqlserver://db.example.com:1433" +
      ";databaseName=metrics")
    assert(d.getClass.getSimpleName == "MsSqlServerDialect")
    def ddl(t: DataType) = d.getJDBCType(t).map(_.databaseTypeDefinition)
    assert(ddl(TimestampType) == Some("DATETIME"))
    assert(ddl(StringType) == Some("NVARCHAR(MAX)"))
    assert(ddl(BooleanType) == Some("BIT"))
    // doubles/longs fall through to the JDBC defaults (no override)
    assert(ddl(DoubleType).isEmpty && ddl(LongType).isEmpty)
  }

  test("A1-A5 observe metrics collected during the action") {
    val observed = Sinks.observed(payload.filter($"percent_used" > 20),
      "valid_rows")
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      @volatile var rows = -1L
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        qe.observedMetrics.get("valid_rows").foreach(r =>
          rows = r.getAs[Long]("rows"))
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      observed.collect()
      // listener fires asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (listener.rows < 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(listener.rows == 1L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("Tables.events normalizes every harness ts representation") {
    // the generator has already changed this column's physical type
    // once across rounds (INT64 nanos → plain timestamp[us], which
    // Spark reads as TIMESTAMP_NTZ) and silently broke every
    // events-based query; pin all three representations to the same
    // session-zoned TimestampType values so the next change is a spec
    // failure, not a correctness-gate wipeout
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val epoch = 1704067200L // 2024-01-01 00:00:00 UTC
    def load(dir: String): (DataType, Long) = {
      val df = graft.sources.Tables.events(spark, dir)
      (df.schema("ts").dataType,
        df.select(unix_timestamp(col("ts"))).head().getLong(0))
    }
    // (a) nanos-as-long (the early harness form under nanosAsLong)
    val dA = tmp()
    Seq((1L, epoch * 1000000000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dA/events.parquet")
    // (b) TIMESTAMP_NTZ (plain timestamp[us], the round-6 form)
    val dB = tmp()
    Seq(Tuple1(1L)).toDF("event_id")
      .withColumn("ts", timestamp_seconds(lit(epoch))
        .cast(TimestampNTZType))
      .write.mode("overwrite").parquet(s"$dB/events.parquet")
    // (c) session-zoned TIMESTAMP (passthrough)
    val dC = tmp()
    Seq(Tuple1(1L)).toDF("event_id")
      .withColumn("ts", timestamp_seconds(lit(epoch)))
      .write.mode("overwrite").parquet(s"$dC/events.parquet")
    Seq(dA, dB, dC).foreach { d =>
      val (dt, v) = load(d)
      assert(dt == TimestampType, s"$d -> $dt")
      assert(v == epoch, s"$d -> $v")
    }
  }
}
