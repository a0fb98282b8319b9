package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** MULTI-TABLE transactions (round 11 — r10-VERDICT task 6, closing
  * FORMAT.md's named gap; round 12 adds COPY-ON-WRITE participants —
  * r11-VERDICT task 4): one atomic commit spanning several manifest
  * tables, built from an intent log + roll-forward under the existing
  * OCC loop — the two-phase shape coordinated commit protocols reduce
  * to when conflicts abort loudly instead of blocking:
  *
  *  1. PREPARE: the caller stages every table's data files, then
  *     [[ManifestTxn.commitTxn]] writes ONE intent file
  *     (`_txns/<id>.txt` under the first participant) listing every
  *     (table root, added entry lines) pair — atomically, before any
  *     table publishes.
  *  2. PUBLISH: each table commits its adds through the normal OCC
  *     retry with `txn=<id> txnlog=<intent>` header meta. Appends
  *     compose with concurrent writers by construction, and the
  *     per-attempt ledger check ([[ManifestTxn.txnApplied]]) makes
  *     every publish idempotent.
  *  3. COMMIT: a create-exclusive `<id>.txt.committed` marker.
  *
  * ALL-OR-NOTHING VISIBILITY is enforced at the single resolution
  * choke point every reader passes through ([[ManifestLog.manifestOf]]
  * calls [[ManifestTxn.ensureTxnVisible]]): a manifest carrying a
  * `txn=` whose marker is absent is a crash residue, and the READER
  * completes it — re-reads the intent, applies any participant still
  * missing the txn (idempotent), links the marker — before its own
  * read proceeds. So either the whole transaction becomes visible (the
  * moment anyone observes any part of it) or none of it ever does;
  * a missing intent with a missing marker fails loudly instead of
  * guessing. This is roll-forward recovery, the direction real
  * coordinated-commit designs pick for exactly this reason: the intent
  * is durable before the first publish, so forward is always provable.
  *
  * Scale shape: the intent is O(Σ adds) bytes, each publish is the
  * normal O(delta) append commit, and steady-state reads pay ONE
  * marker-existence check per txn id (JVM-cached after the first).
  */
trait ManifestTxn { self: ManifestLog with ManifestData
    with ManifestMutations with ManifestBloom =>

  /** Txn ids proven committed (marker seen/linked) — a pure perf
    * cache over immutable facts; crude size bound like SegIO's.
    */
  private val txnDone =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Ids this THREAD is currently completing — the reentrancy guard:
    * completing a txn reads its own participants' logs, which would
    * otherwise recurse into the same completion.
    */
  private val activeTxns = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue(): java.util.HashSet[String] =
      new java.util.HashSet[String]()
  }

  /** One atomic append commit across `participants` — (table root,
    * staged entry lines, extra per-table commit meta). Returns the
    * version each table landed at. The caller must have staged the
    * data files already ([[stage]]); a crash
    * anywhere after the intent lands is rolled FORWARD by the next
    * reader of any participant.
    */
  def commitTxn(participants: Seq[(Path, Seq[String], String)]): Seq[Int] =
    commitTxnCow(participants.map { case (r, adds, meta) =>
      (r, adds, Nil, meta) })

  /** COPY-ON-WRITE participants (round 12 — r11-VERDICT task 4; until
    * now txns were append-only): each participant is (root, added
    * entry lines, REMOVED paths, meta) — a CoW rewrite contributes its
    * replacement files as adds and its touched files as removes, so
    * "re-price a band in table A and append its audit trail to table
    * B" is one atomic commit. Two liveness defenses guard the removes:
    * a fail-fast pre-check BEFORE the intent lands (a conflict there
    * aborts cleanly — no intent, nothing published), and the upsert
    * conflict rule re-checked against the winning parent INSIDE each
    * publish retry. A concurrent rewrite that lands in the window
    * between intent and publish poisons the transaction LOUDLY — the
    * publisher and every reader-side completion raise the same
    * ConcurrentModificationException instead of resurrecting or
    * losing rows (the r11-VERDICT's abort→loud contract); if no
    * participant published yet, the intent is deleted and the abort
    * is clean.
    */
  def commitTxnCow(
      participants: Seq[(Path, Seq[String], Seq[String], String)])
      : Seq[Int] = {
    require(participants.size >= 2,
      "commitTxn coordinates MULTIPLE tables — use appendCommit for one")
    val roots = participants.map(_._1.toAbsolutePath)
    require(roots.distinct.size == roots.size,
      s"duplicate participant roots: $roots")
    roots.foreach(r => require(!r.toString.contains(' '),
      s"participant path not header-token-safe (space): $r"))
    // fail-fast liveness pre-check: every removed path must be live
    // NOW — a stale touched set never even writes an intent
    participants.foreach { case (root, _, dels, _) =>
      if (dels.nonEmpty) {
        val latest = latestVersion(root)
        val live = if (latest == 0) Set.empty[String]
          else filesFor(root, latest).toSet
        val gone = dels.filterNot(live)
        require(gone.isEmpty,
          s"commitTxn: removed files not live on $root: " +
          gone.mkString(","))
      }
    }
    val id = s"t${nonce()}"
    val txnDir = participants.head._1.resolve("_txns")
    Files.createDirectories(txnDir)
    val intent = txnDir.resolve(s"$id.txt")
    // base= bounds the per-attempt idempotence scan to the commits
    // made SINCE the transaction began — without it every publish
    // attempt re-reads O(versions) headers, the wave-137 hazard the
    // incremental ledger exists to avoid (review fix)
    val body = participants.flatMap { case (root, adds, dels, meta) =>
      (Seq(s"table=${root.toAbsolutePath}",
        s"base=${latestVersion(root)}") ++
        (if (meta.nonEmpty) Seq(s"meta=$meta") else Nil)) ++
        adds.map("add=" + _) ++ dels.map("del=" + _)
    }.mkString("", "\n", "\n")
    val tmp = txnDir.resolve(s".$id.tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    // the intent IS the transaction: durable (atomic move) before any
    // participant publishes, so recovery can always roll forward
    Files.move(tmp, intent, StandardCopyOption.ATOMIC_MOVE)
    val versions =
      try withActive(id)(applyIntent(parseIntent(intent), id, intent))
      catch {
        case e: java.util.ConcurrentModificationException =>
          // clean abort iff nothing published yet — then the intent
          // can vanish as if the txn never happened; otherwise it
          // stays for (loud) completion attempts
          val published = parseIntent(intent).exists { p =>
            val latest = latestVersion(p.root)
            latest > 0 && txnApplied(p.root, id, latest, p.base)
          }
          if (!published) Files.delete(intent)
          throw e
      }
    markCommitted(intent)
    txnDone.add(id)
    versions
  }

  private def withActive[A](id: String)(f: => A): A = {
    activeTxns.get().add(id)
    try f finally activeTxns.get().remove(id)
  }

  private def committedMarker(intent: Path): Path =
    intent.resolveSibling(intent.getFileName.toString + ".committed")

  private def markCommitted(intent: Path): Unit =
    try Files.createFile(committedMarker(intent)): Unit
    catch { case _: java.nio.file.FileAlreadyExistsException => () }

  /** One participant of a parsed intent: adds are entry LINES,
    * dels are removed PATHS (round 12 — CoW participants), base is
    * the table version at prepare time (the idempotence-scan bound).
    */
  private[operators] case class TxnPart(root: Path, adds: Seq[String],
      dels: Seq[String], meta: String, base: Int)

  private[operators] def parseIntent(intent: Path): Seq[TxnPart] = {
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(intent)).asScala.filter(_.nonEmpty)
    val out = scala.collection.mutable.ArrayBuffer.empty[TxnPart]
    lines.foreach { l =>
      if (l.startsWith("table="))
        out += TxnPart(Paths.get(l.drop(6)), Nil, Nil, "", 0)
      else if (l.startsWith("base="))
        out(out.size - 1) = out.last.copy(base = l.drop(5).toInt)
      else if (l.startsWith("meta="))
        out(out.size - 1) = out.last.copy(meta = l.drop(5))
      else if (l.startsWith("add="))
        out(out.size - 1) = out.last.copy(adds = out.last.adds :+ l.drop(4))
      else if (l.startsWith("del="))
        out(out.size - 1) = out.last.copy(dels = out.last.dels :+ l.drop(4))
      else throw new IllegalStateException(
        s"corrupt txn intent line in $intent: $l")
    }
    out.toSeq
  }

  /** Has table `root` already published txn `id` in (base, upTo]?
    * The idempotence check each publish attempt (and each
    * roll-forward) recomputes against the winning parent; `base` (the
    * table's version when the intent was prepared) bounds the header
    * scan to the commits the transaction could possibly have made —
    * O(new commits), never O(versions).
    */
  private def txnApplied(root: Path, id: String, upTo: Int,
      base: Int): Boolean =
    (math.max(base + 1, math.max(1, firstVersion(root))) to upTo)
      .exists(v => headerMeta(root, v).get("txn").contains(id))

  private def applyIntent(parts: Seq[TxnPart], id: String,
      intent: Path): Seq[Int] =
    parts.map { p =>
      // the recorded intent path is RELATIVE to this participant's
      // root: a table tree relocated wholesale (test caches, storage
      // migration) keeps resolving its COMPLETED txns' markers; only
      // a PENDING txn pins the participants' absolute locations (the
      // intent body), which is the same contract real formats have
      // for in-flight state
      val rel = p.root.toAbsolutePath.relativize(intent.toAbsolutePath)
      val meta = (s"txn=$id txnlog=$rel " + p.meta).trim
      commitOpsF(p.root, _ => meta) { parent =>
        if (parent > 0 && txnApplied(p.root, id, parent, p.base)) None
        else {
          // CoW liveness, re-checked against the WINNING parent (the
          // upsert conflict rule): a concurrent rewrite of a removed
          // file means this transaction saw state that no longer
          // exists — fail LOUDLY (publisher and reader-completion
          // alike) instead of resurrecting or losing rows
          if (p.dels.nonEmpty) {
            val live = if (parent == 0) Set.empty[String]
              else filesFor(p.root, parent).toSet
            val gone = p.dels.filterNot(live)
            if (gone.nonEmpty)
              throw new java.util.ConcurrentModificationException(
                s"txn $id conflicts on ${p.root}: removed file(s) " +
                s"${gone.mkString(",")} were rewritten by a concurrent " +
                "commit — the transaction cannot be completed; " +
                "re-stage and re-run it")
          }
          Some((p.adds, p.dels))
        }
      }.getOrElse(latestVersion(p.root))
    }

  /** The reader-side hook ([[ManifestLog.manifestOf]]): observing a
    * `txn=` manifest whose committed marker is absent completes the
    * transaction before the read proceeds — all-or-nothing by
    * roll-forward.
    */
  private[operators] def ensureTxnVisible(root: Path, id: String,
      logPath: Option[String]): Unit = {
    if (txnDone.contains(id) || activeTxns.get().contains(id)) return
    // txnlog= is root-relative (relocation-safe); absolute forms from
    // hand-written logs resolve unchanged
    val intent = root.toAbsolutePath.resolve(
      Paths.get(logPath.getOrElse(throw new IllegalStateException(
        s"manifest carries txn=$id without txnlog — cannot prove " +
        "all-or-nothing visibility")))).normalize()
    if (Files.exists(committedMarker(intent))) {
      if (txnDone.size > 4096) txnDone.clear()
      txnDone.add(id); return
    }
    require(Files.exists(intent),
      s"pending txn $id with missing intent log $intent — the " +
      "transaction cannot be proven complete or rolled forward")
    withActive(id) {
      applyIntent(parseIntent(intent), id, intent): Unit
    }
    markCommitted(intent)
    if (txnDone.size > 4096) txnDone.clear()
    txnDone.add(id): Unit
  }
}
