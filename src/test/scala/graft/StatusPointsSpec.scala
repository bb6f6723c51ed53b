package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.pipelines.StatusPoints
import graft.sources.Sinks

/** §3.2 as a poll runs it: `StatusPoints.points` over JSON-landed
  * snapshots, written to the `graft-points` sink and then to the audit
  * CSV, with the plan run once for both sinks.
  */
class StatusPointsSpec extends SparkSpec {

  private val keys = Seq(
    StructField("host_name", StringType),
    StructField("service_description", StringType))
  private val membersSchema = StructType(keys)
  private val statusSchema = StructType(keys ++ Seq(
    StructField("current_state", StringType),
    StructField("last_check", StringType)))
  private val detailsSchema = StructType(keys ++ Seq(
    StructField("display_name", StringType),
    StructField("customvars_map", MapType(StringType, StringType)),
    StructField("customvars_list", StatusPoints.customvarsListType)))

  /** A landed snapshot of 60 services on 20 hosts: every fifth status
    * row lacks `last_check` (P6), every seventh is not a member, and
    * two JSON files per input so each scan has more than one split.
    */
  private def landSnapshot(): Path = {
    val dir = tempDir("graftpoll")
    def land(name: String, lines: Seq[String]): Unit = {
      Files.createDirectories(dir.resolve(name))
      lines.grouped((lines.size + 1) / 2).zipWithIndex.foreach {
        case (part, i) =>
          Files.write(dir.resolve(s"$name/part-$i.json"), part.asJava)
      }
    }
    val services = (0 until 60).map(i => (s"h${i % 20}", s"URL $i"))
    def key(h: String, s: String) =
      s""""host_name":"$h","service_description":"$s""""
    land("members", services.zipWithIndex.collect {
      case ((h, s), i) if i % 7 != 0 => s"{${key(h, s)}}"
    })
    land("status", services.zipWithIndex.map { case ((h, s), i) =>
      val check = if (i % 5 == 0) "null"
        else f""""2024-08-11 19:${i % 60}%02d:00""""
      s"""{${key(h, s)},"current_state":"${i % 4}","last_check":$check}"""
    })
    land("details", services.zipWithIndex.map { case ((h, s), i) =>
      s"""{${key(h, s)},"display_name":"D$i",""" +
        s""""customvars_map":{"FRIENDLYNAME":"F$i","CROWNJEWEL":"yes"}}"""
    })
    dir
  }

  private def points(snap: Path): DataFrame = {
    def read(name: String, schema: StructType) =
      spark.read.schema(schema).json(snap.resolve(name).toString)
    StatusPoints.points(read("status", statusSchema),
      read("members", membersSchema), read("details", detailsSchema),
      "service_status")
  }

  private def writePoints(pts: DataFrame, out: Path): Unit =
    pts.write.format("graft-points").mode("append")
      .option("path", out.resolve("points").toString)
      .option("measurement", "service_status")
      .option("tagCols", "host_name,service_description,friendlyname")
      .option("fieldCols", "service_status_numeric")
      .option("timeCol", "time")
      .save()

  private def auditRows(out: Path): Set[String] =
    spark.read.option("header", "true").csv(out.resolve("audit").toString)
      .collect().map(_.mkString("|")).toSet

  /** The ids of the stored RDDs a frame's plan reads. */
  private def storedRdds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }

  /** Every node of an executed plan, through AQE wrappers and query
    * stages.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => p.children.flatMap(nodes)
  })

  /** Members that keep their `last_check`. */
  private val expected = (0 until 60).count(i => i % 7 != 0 && i % 5 != 0)

  test("§3.2 one plan pass per poll: the audit write scans no input, " +
      "runs no broadcast, and the poll runs at most 4 jobs") {
    val snap = landSnapshot()
    val out = tempDir("graftpollout")
    val jobs = new AtomicInteger(0)
    val jobCounter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val writes = new ConcurrentLinkedQueue[SparkPlan]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        writes.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    GraftTestHooks.drainListenerBus(sc)
    sc.addSparkListener(jobCounter)
    spark.listenerManager.register(planListener)
    try {
      val pts = points(snap)
      writePoints(pts, out)
      Sinks.writeCsv(StatusPoints.auditRows(pts), out.resolve("audit").toString)
      GraftTestHooks.drainListenerBus(sc)
    } finally {
      sc.removeSparkListener(jobCounter)
      spark.listenerManager.unregister(planListener)
    }
    // the CSV write is the one v1 file write of the poll
    val audit = writes.asScala.map(nodes).find(
      _.exists(_.isInstanceOf[DataWritingCommandExec]))
      .getOrElse(fail(s"no audit write among ${writes.size} plans"))
    val tree = audit.head.treeString
    assert(!audit.exists(_.isInstanceOf[FileSourceScanExec]),
      s"audit write scans an input:\n$tree")
    assert(!audit.exists(_.isInstanceOf[BroadcastExchangeExec]),
      s"audit write runs a broadcast:\n$tree")
    assert(jobs.get() <= 4, s"${jobs.get()} jobs for one poll")
    assert(auditRows(out).size == expected)
  }

  test("§3.2 blocks lost between the two sinks are recomputed: the " +
      "audit write still holds every row") {
    val snap = landSnapshot()
    val out = tempDir("graftpolllost")
    val pts = points(snap)
    val stored = storedRdds(pts)
    assert(stored.size == 1, s"points reads stored RDDs $stored")
    writePoints(pts, out)
    assert(GraftTestHooks.storedBlocks(stored.head) > 0,
      "the points write stored no partition")
    GraftTestHooks.removeRddBlocks(stored.head)
    assert(GraftTestHooks.storedBlocks(stored.head) == 0)
    Sinks.writeCsv(StatusPoints.auditRows(pts), out.resolve("audit").toString)
    val rows = auditRows(out)
    assert(rows.size == expected)
    // the same rows a fresh plan yields
    assert(rows == StatusPoints.auditRows(points(snap)).collect()
      .map(_.mkString("|")).toSet)
  }

  test("§3.2 polls do not pile up stored blocks: a dropped frame's " +
      "blocks are released by the ContextCleaner") {
    val snap = landSnapshot()
    val out = tempDir("graftpollgc")
    // one poll per call, so no frame outlives its iteration
    def poll(i: Int): Int = {
      val pts = points(snap)
      val Seq(id) = storedRdds(pts)
      writePoints(pts, out.resolve(s"poll_$i"))
      id
    }
    val ids = (0 until 20).map(poll).toSet
    assert(ids.size == 20)
    eventually(timeout(10.seconds), interval(100.millis)) {
      System.gc()
      val left = spark.sparkContext.getPersistentRDDs.keySet.intersect(ids)
      assert(left.isEmpty, s"${left.size} of 20 frames still stored")
    }
  }
}
