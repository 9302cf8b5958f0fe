package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DataType, StructType}

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** Per-file statistics captured at write time, used for scan pruning.
  *
  * Mirrors what the reference gets from Iceberg manifest metadata
  * (walden `tf/main.tf:93-98` pins the iceberg-nessie connector); we
  * keep the format deliberately trivial: min/max/nullCount per
  * top-level column, values encoded as strings with the column's
  * Spark SQL type alongside for typed comparison.
  */
final case class FileStat(
    path: String,
    rows: Long,
    bytes: Long,
    min: Map[String, String],
    max: Map[String, String],
    nullCount: Map[String, Long])

/** One atomic commit: the unit of the table's history.
  *
  * Walden's versioned tables come from Nessie's git-like version store
  * over Iceberg snapshots (`tf/nessie-values.yaml:1-13`). Our thin
  * equivalent: a table is an immutable set of Parquet files; each
  * commit adds/removes files; a snapshot IS the resolved file set at a
  * version; branches/tags are named refs to versions.
  */
final case class Commit(
    version: Long,
    parent: Long,
    op: String, // create | append | overwrite | delete | update | merge | compact
    added: Seq[FileStat],
    removed: Seq[String],
    schemaJson: String,
    timestampMs: Long)

/** Fully-resolved live file set at `version` — the commit log's
  * checkpoint record (derived, reproducible from the commits). */
private[store] final case class Checkpoint(version: Long, files: Seq[FileStat])

object CommitLog {
  /** Publish a resolved-file-set checkpoint every Nth commit. */
  val CheckpointInterval: Int = 16

  /** Log JSON texts (commits, checkpoints, schemas) parsed since the
    * JVM started: what [[parsed]] did not already hold. */
  private[graft] val parses = new AtomicLong

  /** Parsed log JSON by its text, shared by every table in the JVM.
    * A parse is a function of the text alone, so an entry is only ever
    * served for a file holding exactly that text: a table dropped and
    * re-created at the same path, whose files hold other commits,
    * misses. Least recently used entries go once the texts held pass
    * `maxChars` (commits are a few KB; a text over the bound is parsed
    * and not kept). */
  private final class ParseMemo(maxChars: Long) {
    private var chars = 0L
    private val entries = new java.util.LinkedHashMap[(Class[_], String), AnyRef](64, 0.75f, true)

    def apply[T <: AnyRef](text: String, cls: Class[T])(parse: String => T): T = {
      val key = (cls, text)
      val hit = entries.synchronized(entries.get(key))
      if (hit != null) return cls.cast(hit)
      val v = parse(text)
      parses.incrementAndGet()
      if (text.length <= maxChars) entries.synchronized {
        if (entries.put(key, v) == null) chars += text.length
        val it = entries.keySet.iterator
        while (chars > maxChars && it.hasNext) {
          chars -= it.next()._2.length
          it.remove()
        }
      }
      v
    }
  }

  /** 4M characters of JSON: about a thousand commits, or the
    * checkpoints of tables with thousands of live files. */
  private val parsed = new ParseMemo(4L << 20)
}

/** Append-only JSON commit log + named refs, with optimistic
  * concurrency via atomic file creation.
  *
  * Layout under the table root:
  * {{{
  *   data/<uuid>.parquet      immutable data files
  *   _graft_log/<%020d>.json  one JSON Commit per version
  *   _graft_refs/<name>       text file holding a version number
  * }}}
  *
  * Scale note: the log is O(commits) small JSON files, but snapshot
  * resolution does NOT replay all of them: every `checkpointInterval`th
  * commit also publishes a `.ckpt` file holding the fully-resolved live
  * file set at that version (the Iceberg manifest-list move), so
  * resolving any version reads one checkpoint + at most
  * `checkpointInterval` commit files. Checkpoints are derived data —
  * deterministic per version, written best-effort with the same
  * fail-if-exists link, and resolution falls back to full replay when
  * none exists. Data files are never mutated, so concurrent readers
  * are always consistent.
  */
final class CommitLog(tableRoot: String) {
  private implicit val fmts: Formats = DefaultFormats

  private val logDir: Path = Paths.get(tableRoot, "_graft_log")
  private val refDir: Path = Paths.get(tableRoot, "_graft_refs")
  val dataDir: Path = Paths.get(tableRoot, "data")

  def init(): Unit = {
    Files.createDirectories(logDir)
    Files.createDirectories(refDir)
    Files.createDirectories(dataDir)
  }

  def exists: Boolean = Files.isDirectory(logDir) && versions.nonEmpty

  private def commitPath(v: Long): Path = logDir.resolve(f"$v%020d.json")

  /** One listing of the log directory: the sorted versions of each of
    * `suffixes`' files. */
  private def listing(suffixes: String*): Map[String, Seq[Long]] =
    if (!Files.isDirectory(logDir)) suffixes.map(_ -> Seq.empty[Long]).toMap
    else {
      val s = Files.list(logDir)
      val names =
        try s.iterator.asScala.map(_.getFileName.toString).toVector
        finally s.close() // Files.list leaks the directory FD until GC
      suffixes.map { x =>
        x -> names.filter(_.endsWith(x)).map(_.stripSuffix(x).toLong).sorted
      }.toMap
    }

  def versions: Seq[Long] = listing(".json")(".json")

  def latestVersion: Long = versions.lastOption.getOrElse(0L)

  private def text(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** One commit. The file is read on every call; its parse is shared
    * with every earlier read of the same text ([[CommitLog.parsed]]). */
  def read(version: Long): Commit = {
    val txt =
      try text(commitPath(version))
      catch {
        case _: NoSuchFileException => throw new IllegalArgumentException(
          s"requirement failed: no version $version at $tableRoot (have: ${versions.mkString(",")})")
      }
    CommitLog.parsed(txt, classOf[Commit])(JsonMethods.parse(_).extract[Commit])
  }

  /** Atomically publish `commit` as the next version. Returns false if
    * another writer won the race (caller re-resolves and retries).
    *
    * Atomicity: write to a temp file, then HARD-LINK it to the target.
    * link(2) fails with EEXIST when the target exists — the atomic
    * fail-if-exists publish POSIX actually provides. (rename(2) /
    * Files.move(ATOMIC_MOVE) silently REPLACES an existing target, so
    * two racing writers could both "win" and one commit would vanish;
    * an object-store deployment uses conditional PUT for the same
    * contract.)
    */
  def tryCommit(commit: Commit): Boolean = {
    val target = commitPath(commit.version)
    if (Files.exists(target)) return false
    val tmp = logDir.resolve(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, Serialization.write(commit).getBytes(StandardCharsets.UTF_8))
    try {
      Files.createLink(target, tmp)
      maybeCheckpoint(commit.version)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  // ---- checkpoints ------------------------------------------------------
  // `.ckpt` suffix keeps them out of `versions`' `.json` listing.
  def checkpointInterval: Int = CommitLog.CheckpointInterval
  private def ckptPath(v: Long): Path = logDir.resolve(f"$v%020d.ckpt")

  /** Best-effort: checkpoints are deterministic derived data, so a lost
    * race or an IO failure only costs replay length, never correctness. */
  private def maybeCheckpoint(v: Long): Unit =
    if (v % checkpointInterval == 0)
      try {
        val ck = Checkpoint(v, snapshotFiles(v))
        val tmp = logDir.resolve(s".tmp-${java.util.UUID.randomUUID()}")
        Files.write(tmp, Serialization.write(ck).getBytes(StandardCharsets.UTF_8))
        try Files.createLink(ckptPath(v), tmp)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        finally Files.deleteIfExists(tmp)
      } catch { case scala.util.control.NonFatal(_) => () }

  /** Resolve the live file set at `version`: seed from the newest
    * checkpoint at or below it, replay only the commits after. */
  def snapshotFiles(version: Long): Seq[FileStat] = {
    val live = scala.collection.mutable.LinkedHashMap[String, FileStat]()
    val log = listing(".ckpt", ".json")
    val base = log(".ckpt").filter(_ <= version).maxOption
    base.foreach { bv =>
      CommitLog.parsed(text(ckptPath(bv)), classOf[Checkpoint])(JsonMethods.parse(_).extract[Checkpoint])
        .files.foreach(f => live(f.path) = f)
    }
    log(".json").filter(v => v > base.getOrElse(0L) && v <= version).foreach { v =>
      val c = read(v)
      if (c.op == "overwrite" || c.op == "create") live.clear()
      c.removed.foreach(live.remove)
      c.added.foreach(f => live(f.path) = f)
    }
    live.values.toSeq
  }

  def schemaJsonAt(version: Long): String = read(version).schemaJson

  /** The schema commit `version` publishes, its JSON parsed once. */
  def schemaAt(version: Long): StructType =
    CommitLog.parsed(schemaJsonAt(version), classOf[StructType])(
      DataType.fromJson(_).asInstanceOf[StructType])

  // ---- refs (branches / tags) ------------------------------------------
  def setRef(name: String, version: Long): Unit = {
    Files.createDirectories(refDir)
    val tmp = refDir.resolve(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, version.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, refDir.resolve(name), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def getRef(name: String): Option[Long] = {
    val p = refDir.resolve(name)
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong)
    else None
  }

  def listRefs: Map[String, Long] =
    if (!Files.isDirectory(refDir)) Map.empty
    else {
      val s = Files.list(refDir)
      try s.iterator.asScala
        .filterNot(_.getFileName.toString.startsWith(".tmp-"))
        .map(p => p.getFileName.toString ->
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong)
        .toMap
      finally s.close()
    }
}
