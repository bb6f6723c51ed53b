package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one per-session cache. It holds the stagings (a checkpointed
  * edge table, a BM25 index, staged parquet, the bucketed tables) and
  * the parquet relations `graft.sources.Tables.memoRead` serves.
  * Each value is built once per (session, name, source path, input
  * version) and served to every later caller. The input version
  * ([[version]]) changes when the path, or a table in the dir, is
  * rewritten, so the value is built again instead of serving stale
  * rows, and the superseded one is dropped. A value sits in a lazy
  * cell stored with putIfAbsent: callers of one key wait on that
  * cell's monitor, so there is no duplicate build and no map bin
  * stays locked for a Spark job. A staging builds under the job
  * description `staging <name>`, and each call records the job group
  * (the bench runs each query as its own group) that touched it:
  * [[consumers]] is the derived list of staging-dependent queries.
  * A relation read is not a staging and records nothing. [[onDisk]]
  * stagings and the bucketed tables live under a per-session temp
  * [[root]], deleted when the session is [[release]]d or its
  * SparkContext stops.
  */
object Staged {
  private final case class Key(s: SparkSession, name: String, dir: String,
      version: String)
  private final class Cell(private[this] var build: () => Any) {
    lazy val value: Any = { val v = build(); build = null; v }
  }
  private val cells = new ConcurrentHashMap[Key, Cell]()
  private val roots = new ConcurrentHashMap[SparkSession, java.io.File]()
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()
  /** (job group, staging name, built by this call) */
  private val uses = ConcurrentHashMap.newKeySet[(String, String, Boolean)]()

  /** A hash of the file's name, length and mtime, or of the dir's
    * file names, lengths and mtimes.
    */
  private def version(path: String): String = {
    val f = new java.io.File(path)
    val files = if (f.isFile) Array(f)
      else Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
    tag(files.map(f => s"${f.getName}|${f.length()}|${f.lastModified()}")
      .mkString(","))
  }

  /** 64-bit sha-256 tag of a string: a 32-bit String.hashCode
    * collision between two versions would serve stale rows.
    */
  private def tag(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString

  /** The value of the key's cell, built by `build` on a miss; records
    * no use, so a base-table read through it is not a staging.
    */
  private[graft] def cell[A](s: SparkSession, name: String, dir: String)(
      build: => A): A = {
    val key = Key(s, name, dir, version(dir))
    val hit = cells.get(key)
    val c = if (hit != null) hit else {
      watch(s.sparkContext)
      // drop this value's superseded versions and dead sessions
      cells.keySet.removeIf(k => k.s.sparkContext.isStopped ||
        (k.s == s && k.name == name && k.dir == dir && k.version != key.version))
      val fresh = new Cell(() => build)
      Option(cells.putIfAbsent(key, fresh)).getOrElse(fresh)
    }
    c.value.asInstanceOf[A]
  }

  /** The staging `name` of `dir`, built by `build` on its first call. */
  def apply[A](s: SparkSession, name: String, dir: String)(build: => A): A = {
    var built = false
    val v = cell(s, name, dir) {
      built = true
      val sc = s.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"staging $name")
      try build finally sc.setJobDescription(prev)
    }
    uses.add((Option(s.sparkContext.getLocalProperty("spark.jobGroup.id"))
      .getOrElse(""), name, built))
    v
  }

  /** A staging written to a fresh path under the session's root; every
    * caller of the same key gets that path.
    */
  def onDisk(s: SparkSession, name: String, dir: String)(
      write: String => Unit): String =
    apply(s, name, dir) {
      val path = new java.io.File(root(s),
        s"${name}_${java.util.UUID.randomUUID()}").getPath
      write(path)
      path
    }

  /** The session's temp root, made on first use. */
  def root(s: SparkSession): java.io.File = {
    watch(s.sparkContext)
    roots.computeIfAbsent(s, _ =>
      java.nio.file.Files.createTempDirectory("graft_staged").toFile)
  }

  /** Job groups that touched any staging. */
  def consumers: Set[String] = uses.toArray.collect {
    case (g: String, _, _) if g.nonEmpty => g }.toSet

  /** Stagings the job group built rather than was served. */
  def builtBy(group: String): Set[String] = uses.toArray.collect {
    case (`group`, name: String, true) => name }.toSet

  /** Forget the session's stagings and delete its root. */
  def release(s: SparkSession): Unit = releaseWhere(_ == s)

  private def releaseWhere(p: SparkSession => Boolean): Unit = {
    cells.keySet.removeIf(k => p(k.s))
    roots.keySet.toArray(Array.empty[SparkSession]).filter(p).foreach(s =>
      Option(roots.remove(s)).foreach(org.apache.commons.io.FileUtils.deleteQuietly))
  }

  private def watch(sc: SparkContext): Unit =
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        releaseWhere(_.sparkContext eq sc)
        watched.remove(sc)
      }
    })
}
