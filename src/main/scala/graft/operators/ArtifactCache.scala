package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-on-first-use artifacts shared ACROSS processes — the round-5
  * upgrade of the pid-keyed caches (r4 ADVICE offered both designs;
  * pid-keying was the conservative first cut): the cache key is a
  * FINGERPRINT of the source fixtures (per file: name, byte length,
  * mtime) plus a stamp of the engine code that builds the artifact,
  * so
  *
  *  - a regenerated fixture changes the fingerprint ⇒ a fresh build
  *    (the staleness hazard pid-keying guarded against), and so does
  *    a rebuilt engine (an artifact holds what the code that built it wrote),
  *  - concurrent JVMs race benignly: each builder writes a pid-private
  *    staging dir, then ONE atomic rename publishes it; losers fall
  *    back to the published copy (or their own staging dir while the
  *    winner's move is mid-flight); inside one JVM an artifact is built
  *    once, and concurrent callers wait for that build,
  *  - across driver phases (Verify, then Bench, then serving) the
  *    mining/layout/index builds are paid ONCE per fixture snapshot —
  *    exactly the 100 TB operating model, where the layout job is a
  *    separate pipeline stage and queries only ever read it.
  */
/** Per-invocation scratch dirs that must NOT outlive the JVM (the
  * write itself is the operation under test, so ArtifactCache's
  * build-once reuse would defeat it): each dir registers a shutdown
  * hook, so scratch never accumulates across JVM runs — the r6/r8
  * ADVICE discipline for everything that can't be fingerprint-cached.
  */
object Scratch {
  def dir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook(delete(p.toFile))
    p.toString
  }

  /** A stable pid-keyed root (`/tmp/<base>/p<pid>`) for per-process
    * scratch that IS reused within the JVM (idempotent layout writes,
    * replay dirs) but must die with it; the hook registers once per
    * base.
    */
  private val pidRoots = scala.collection.concurrent.TrieMap.empty[String, String]
  def pidDir(base: String): String =
    pidRoots.getOrElseUpdate(base, {
      val p = java.nio.file.Paths.get(
        s"/tmp/$base/p${ProcessHandle.current().pid()}")
      sys.addShutdownHook(delete(p.toFile))
      p.toString
    })

  private def delete(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles).getOrElse(Array.empty).foreach(delete)
    f.delete(): Unit
  }
}

object ArtifactCache {

  /** Fingerprint of the inputs an artifact derives from: the name of
    * each source, and the length and mtime of each regular file, listing
    * one directory level (a directory source feeds its children).
    */
  private[graft] def fingerprint(sources: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    sources.sorted.foreach { s =>
      val p = Paths.get(s)
      def feed(f: Path): Unit = {
        md.update(f.toString.getBytes("UTF-8"))
        if (Files.isRegularFile(f))
          md.update(s":${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}"
            .getBytes("UTF-8"))
      }
      if (Files.isDirectory(p)) {
        val st = Files.list(p)
        try st.sorted().forEach(feed(_)) finally st.close()
      } else if (Files.exists(p)) feed(p)
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Stamp of the engine code this JVM runs: the relative name, length
    * and mtime of every file under the code source of this class (a
    * classes directory), or of its jar. Every artifact root folds it
    * in, so an artifact built by other code is never read. Computed
    * once per JVM.
    */
  private[graft] lazy val codeStamp: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Option(getClass.getProtectionDomain.getCodeSource).foreach { cs =>
      val src = Paths.get(cs.getLocation.toURI)
      val files =
        if (!Files.isDirectory(src)) Seq(src)
        else {
          val w = Files.walk(src)
          try w.filter(Files.isRegularFile(_)).sorted().toArray.toSeq
            .collect { case f: Path => f }
          finally w.close()
        }
      files.foreach(f => md.update((s"${src.relativize(f)}:${Files.size(f)}:" +
        Files.getLastModifiedTime(f).toMillis).getBytes("UTF-8")))
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Root of an artifact built by the code `stamp` names from the
    * current state of `sources`.
    */
  private[graft] def rootFor(cacheName: String, sources: Seq[String],
      stamp: String): Path =
    Paths.get(s"/tmp/graft_cache/$cacheName/${fingerprint(sources)}-$stamp")

  /** Read the artifact, building+publishing it first if absent. */
  def apply(spark: SparkSession, cacheName: String,
      sources: Seq[String])(build: => DataFrame): DataFrame =
    withWriter(spark, cacheName, sources)(
      out => build.write.mode("overwrite").parquet(out))

  /** Generalization for custom layouts (e.g. a partitionBy index
    * write): the callback writes the artifact to the given staging
    * path; publication/fallback semantics are identical to [[apply]].
    * A published root never changes, so its schema (partition columns
    * included) is resolved once, by [[graft.Tables.schemaOf]].
    */
  def withWriter(spark: SparkSession, cacheName: String,
      sources: Seq[String])(write: String => Unit): DataFrame = {
    val root = path(cacheName, sources)(write)
    spark.read.schema(graft.Tables.schemaOf(spark, root)).parquet(root)
  }

  /** Format-agnostic variant: publishes the artifact and returns the
    * directory to read (text/csv/json roundtrip sources read it with
    * their own format reader). Same fingerprint-keyed build-once +
    * atomic-publish semantics as [[withWriter]] — this is what retired
    * the accumulate-forever pid-keyed /tmp scratch dirs (r6 ADVICE).
    */
  def path(cacheName: String, sources: Seq[String])
      (write: String => Unit): String = {
    val root = rootFor(cacheName, sources, codeStamp)
    if (Files.exists(root.resolve("_SUCCESS"))) root.toString
    // the staging dir is per JVM, so the threads of one JVM must not
    // build into it together: one builds, the others wait on the root's
    // lock and then find the published copy
    else builds.computeIfAbsent(root, _ => new Object).synchronized {
      if (Files.exists(root.resolve("_SUCCESS"))) root.toString
      else publish(root, write)
    }
  }

  /** Build into this JVM's staging dir, then publish it with one atomic
    * rename; returns the directory to read.
    */
  private def publish(root: Path, write: String => Unit): String = {
    val staging = Paths.get(
      root.toString + s".p${ProcessHandle.current().pid()}")
    write(staging.toString)
    try {
      Files.createDirectories(root.getParent)
      Files.move(staging, root, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException
           | _: java.nio.file.AccessDeniedException
           | _: java.nio.file.DirectoryNotEmptyException =>
        // another JVM published first; prefer its copy if complete,
        // else keep reading our own staging build
        if (!Files.exists(root.resolve("_SUCCESS")))
          return staging.toString
    }
    root.toString
  }

  /** One lock per artifact root, taken while it is built. */
  private val builds =
    new java.util.concurrent.ConcurrentHashMap[Path, Object]()
}
