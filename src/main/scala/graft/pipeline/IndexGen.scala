package graft.pipeline

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{ExecutionException, Executors}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ExecutionBridge

/** Generation-versioned directory layout shared by every directory-backed
  * standing index (the BM25 inverted index, the IVF inverted file, the PQ
  * code index, the near-dup/hamming indexes):
  *
  * {{{
  *   root/
  *     CURRENT        one line: the serving generation's directory name
  *     gen_000000/    a complete index (postings/termdf/stats, inv/cents/
  *     gen_000001/    meta, ...) — never mutated once superseded
  * }}}
  *
  * Writers build a WHOLE new generation off to the side and publish it
  * with ONE atomic rename of the pointer file; readers resolve the
  * pointer once per query and read only inside that generation. No reader
  * can ever pair relations from different generations — the
  * per-relation-rename race (new postings with old stats, or a hard
  * failure on a mid-swap missing directory) that a multi-rename swap
  * allows. A crash before the flip leaves the old generation serving and
  * an orphan directory the next successful flip prunes; a crash after
  * the flip has already published a complete index.
  *
  * [[publish]] is the one writer primitive: it allocates the generation,
  * runs the index's relation writers as concurrent Spark jobs (each on a
  * pool thread that carries the caller's active session and local
  * properties: job group, description, execution id), and flips once,
  * only if every writer succeeded. A failed writer's error propagates
  * and nothing is published; its orphan directory is pruned by the next
  * flip.
  *
  * The superseded generation is retained for ONE cycle (pruned when the
  * NEXT flip lands), so a reader in another process that resolved just
  * before a flip finishes its query against intact files; such readers
  * must complete within one full rebuild cycle, which is the standing
  * grace contract. Readers in this JVM can do better: [[withPinned]]
  * resolves and pins the serving generation under the same lock
  * [[flip]] prunes under, and no flip prunes a pinned generation, however
  * many flips land while the reader runs. An unpinned generation outside
  * the grace window is pruned by the next flip.
  *
  * Pointer atomicity is same-directory `ATOMIC_MOVE` — guaranteed on a
  * local/POSIX filesystem (the harness + same-host cluster gate); an
  * object-store deployment would publish the pointer with a conditional
  * PUT instead, same protocol.
  */
object IndexGen {
  private val PointerName = "CURRENT"
  private val GenPattern = "^gen_\\d{6}$".r

  /** Open [[withPinned]] readers per generation directory (canonical
    * path); guarded by the `IndexGen` monitor, like every resolve-and-pin
    * and every flip. */
  private val pins = mutable.Map.empty[String, Int]

  private def key(dir: String): String = new File(dir).getCanonicalPath

  /** The serving generation's name, if `root` uses the versioned layout. */
  def current(root: String): Option[String] = readPointer(root, PointerName)

  /** The directory a READER should use: the serving generation under a
    * versioned root, or `root` itself for the legacy flat layout
    * (relations directly under root) — resolved ONCE per query. */
  def resolve(root: String): String =
    current(root).map(g => s"$root/$g").getOrElse(root)

  /** Allocate the next generation (name, path) under `root` — one past
    * the highest existing generation number, directory created. */
  private def newGen(root: String): (String, String) = synchronized {
    val rootF = new File(root)
    rootF.mkdirs()
    val existing = Option(rootF.list()).getOrElse(Array.empty[String])
      .filter(n => GenPattern.findFirstIn(n).isDefined)
      .map(_.stripPrefix("gen_").toInt)
    val next = if (existing.isEmpty) 0 else existing.max + 1
    val name = f"gen_$next%06d"
    val path = s"$root/$name"
    new File(path).mkdirs()
    (name, path)
  }

  /** Atomically publish a pointer file `dir/name` containing `value`
    * (write-to-temp + same-directory ATOMIC_MOVE — the primitive every
    * swap here is built on). */
  def publishPointer(dir: String, name: String, value: String): Unit = {
    val tmp = new File(dir, name + ".tmp")
    Files.write(tmp.toPath, value.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, new File(dir, name).toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read a pointer file published by [[publishPointer]]. */
  def readPointer(dir: String, name: String): Option[String] = {
    val p = new File(dir, name)
    if (!p.isFile) None
    else {
      val v = new String(Files.readAllBytes(p.toPath),
        StandardCharsets.UTF_8).trim
      if (v.isEmpty) None else Some(v)
    }
  }

  /** Run `body` on the serving generation's directory ([[resolve]]),
    * pinned: no [[flip]] prunes it until `body` returns. Resolve and pin
    * happen under the lock flips prune under, so the directory `body`
    * gets is intact for its whole run. */
  def withPinned[T](root: String)(body: String => T): T = {
    val (dir, k) = synchronized {
      val d = resolve(root)
      val k = key(d)
      pins(k) = pins.getOrElse(k, 0) + 1
      (d, k)
    }
    try body(dir)
    finally synchronized {
      if (pins(k) == 1) pins -= k else pins(k) -= 1
    }
  }

  /** Publish `gen` as the serving generation (atomic pointer rename),
    * then prune every generation directory other than `gen`, the one it
    * superseded (the one-cycle reader grace window) and any a reader in
    * this JVM has pinned ([[withPinned]]). */
  private def flip(root: String, gen: String): Unit = synchronized {
    val prev = current(root)
    publishPointer(root, PointerName, gen)
    val keep = Set(gen) ++ prev
    Option(new File(root).list()).getOrElse(Array.empty[String])
      .filter(n => GenPattern.findFirstIn(n).isDefined && !keep.contains(n) &&
        !pins.contains(key(s"$root/$n")))
      .foreach(n => deleteRec(new File(root, n)))
  }

  /** Write a new generation under `root` and publish it: allocate it
    * ([[newGen]]), run every writer on the generation's path as its own
    * concurrent Spark job, wait for all of them, then [[flip]] once. If
    * any writer throws, nothing is published and its error propagates
    * (the others' as suppressed), once every writer has returned. */
  def publish(spark: SparkSession, root: String)(writers: (String => Unit)*): Unit = {
    val (gen, genPath) = newGen(root)
    val pool = Executors.newFixedThreadPool(math.max(1, writers.size), (r: Runnable) => {
      val t = new Thread(r, "graft-index-writer")
      t.setDaemon(true)
      t
    })
    val errors =
      try {
        writers.map(w => ExecutionBridge.submitCaptured(spark, pool)(w(genPath)))
          .flatMap { f =>
            try { f.get(); None }
            catch { case e: ExecutionException => Some(e.getCause) }
          }
      } finally pool.shutdown()
    errors.headOption.foreach { e =>
      errors.tail.foreach(e.addSuppressed)
      throw e
    }
    flip(root, gen)
  }

  /** Hard-link every DATA file of relation directory `src` into `dst`
    * (created): the cheap carry-forward for incremental generations —
    * standing parquet part files are immutable once published, so a new
    * generation shares them by link instead of rewriting index-sized
    * bytes. Marker files (`_SUCCESS` and other `_`/`.`-prefixed names)
    * are skipped; the appending writer publishes its own. Hard links are
    * the same local/POSIX-filesystem contract as the pointer's
    * ATOMIC_MOVE (an object-store deployment would copy object
    * references instead). */
  def linkDataFiles(src: String, dst: String): Unit = {
    val s = new File(src)
    val d = new File(dst)
    d.mkdirs()
    val fs = Option(s.listFiles()).getOrElse(Array.empty[File])
    fs.filter(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .foreach { f =>
        Files.createLink(new File(d, f.getName).toPath, f.toPath)
      }
  }

  def deleteRec(f: File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRec)
    f.delete()
  }
}
