package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}

/** A tiny committed-batch manifest for partitioned landing stores — the
  * native approximation of a table format's snapshot commit. The manifest
  * is the store's visibility authority: a reader scans exactly the
  * manifested `ingest_batch` directories (the files of un-manifested
  * directories are never opened), so a torn landing, a mid-fold
  * consolidation target, a retained fold source or stray garbage is
  * invisible WITHOUT relying on dot-prefix naming, and a consolidation
  * becomes visible as ONE manifest swap: every reader sees the store
  * either entirely pre-fold or entirely post-fold.
  *
  * Format: `_manifest_v<N>` files at the store root; the CURRENT manifest
  * is the highest cleanly-committed N. Each version carries a header line
  * `#graft-manifest entries=<k>` followed by one `<id>:<rowcount>` line per
  * committed batch. The count is mandatory: it buys a free post-fold audit
  * (fold rows must equal the sum of its sources' recorded counts) and a
  * metadata-only integrity check of the whole store. A version whose
  * content is torn (missing/short header, unparsable line) is skipped —
  * readers fall back to the previous version, exactly as they would under
  * a crashed half-written commit. A store with no clean version is EMPTY:
  * its first commit creates the directory and version 0. Underscore-
  * prefixed with no `=`, so Spark file listings never surface any of it.
  *
  * COMMIT ARBITRATION: [[commit]] is a compare-and-swap loop, not a
  * read-modify-write. A writer reads the current entries, applies its
  * DELTA, and tries to create the next version file exclusively — on
  * HDFS-semantics filesystems that create is the atomic arbitration point.
  * Losing the race (the version file already exists) re-reads the winner's
  * manifest and re-applies the delta, so a landing racing a consolidation
  * fold cannot clobber the fold's swap: the final manifest carries BOTH
  * the landing id and the fold id, whichever order the two commits land
  * in. At 100 TB this is exactly a Delta/Iceberg optimistic-commit loop
  * over the table's next snapshot file.
  *
  * DELTAS MUST BE IDEMPOTENT: re-applying a delta onto entries that already
  * reflect it must be a no-op (`_ + (id -> count)`,
  * `_ -- sources + (foldId -> count)` both are). The CAS loop relies on
  * this — a post-close verification failure retries the whole commit, and
  * in one rare interleaving (a legitimate successor commits inside the
  * verify window) the retry re-applies a delta that already landed.
  *
  * OBJECT-STORE POSTURE: the arbitration point is the exclusive create
  * failing for the loser. That holds on HDFS, local/POSIX, viewfs, Ozone —
  * filesystems with atomic create-exclusive. It does NOT hold on S3A
  * without conditional writes (create does HEAD-then-PUT; two racers both
  * succeed, last PUT silently wins) or other bare object stores, where a
  * real deployment needs a conditional-put or an external lock — exactly
  * why Delta ships LogStore implementations per store and Iceberg uses a
  * catalog as the commit authority. [[commit]] therefore REFUSES schemes
  * not known to arbitrate create, loudly, rather than racing silently;
  * a deployment that has made its store safe (e.g. S3 conditional writes
  * via an If-None-Match-honoring connector) can assert so with
  * `graft.manifest.assume.atomic.create=true` in the Hadoop conf.
  *
  * Version retirement retains the immediately-previous version (a reader
  * that listed version N−1 an instant before version N committed can still
  * open it); only versions two or more behind are deleted, and [[read]]
  * additionally re-lists on FileNotFoundException for the double-commit
  * window. */
object StoreManifest {

  private val Prefix = "_manifest_v"
  private val Header = "#graft-manifest entries="

  /** Committed batch id → posting row count. */
  type Entries = Map[Long, Long]

  /** Test seam — invoked between a commit attempt's manifest read and its
    * version-file create (`"pre-create:v<N>"`), the exact window where a
    * competing writer's commit forces the CAS retry; specs interleave a
    * landing's commit here to drive that race deterministically. No-op in
    * production. */
  private[graft] var commitCrashpoint: String => Unit = _ => ()

  /** Test seam — invoked after a commit attempt's content write+close,
    * before its post-close verification (`"post-close:v<N>"`): the window
    * where a torn-slot heal can have redirected the path away from this
    * writer's (now unlinked) inode. Specs delete/re-claim the slot here to
    * drive the POSIX lost-inode case deterministically. No-op in
    * production. */
  private[graft] var postCloseCrashpoint: String => Unit = _ => ()

  /** Test seam — invoked when a commit attempt's exclusive create of
    * version N fails (`"lost-create:v<N>"`), before the failure is
    * classified: the window where later commits can already have retired
    * the slot this writer lost. No-op in production. */
  private[graft] var lostCreateCrashpoint: String => Unit = _ => ()

  private def versions(fs: FileSystem, store: Path): Seq[(Long, Path)] =
    if (!fs.exists(store)) Seq.empty
    else fs.listStatus(store).toSeq.map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith(Prefix) && n.drop(Prefix.length).nonEmpty &&
          n.drop(Prefix.length).forall(_.isDigit)
      }
      .map(p => (p.getName.drop(Prefix.length).toLong, p))
      .sortBy(_._1)

  private def parseEntry(line: String): Option[(Long, Long)] =
    line.split(':') match {
      case Array(id, n) =>
        try Some((id.toLong, n.toLong))
        catch { case _: NumberFormatException => None }
      case _ => None
    }

  /** Parse one version file; None = torn (crashed mid-write — skip to the
    * previous version). Throws FileNotFoundException through to the caller
    * (a concurrently-retired version — re-list and retry there). */
  private def parseVersion(fs: FileSystem, p: Path): Option[Entries] = {
    val in = fs.open(p)
    val lines = try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).toSeq
    } finally in.close()
    val content = lines.filter(_.nonEmpty)
    // a zero-byte file (create happened, write didn't) has no header
    if (!content.headOption.exists(_.startsWith(Header))) return None
    val want = try content.head.drop(Header.length).toLong
      catch { case _: NumberFormatException => return None }
    val entries = content.tail.map(parseEntry)
    if (entries.size != want || entries.exists(_.isEmpty)) None
    else Some(entries.flatten.toMap)
  }

  /** One consistent observation of the manifest: the version listing, the
    * highest CLEANLY-committed version's number (−1 when none is clean),
    * and its entries (empty when no version is clean). Walks versions from
    * the highest down, skipping torn files; a version retired between the
    * listing and the open re-lists (bounded). */
  private def readCurrent(fs: FileSystem,
      store: Path): (Seq[(Long, Path)], Long, Entries) = {
    var attempts = 0
    while (true) {
      val vs = versions(fs, store)
      try {
        vs.reverseIterator.foreach { case (v, p) =>
          parseVersion(fs, p) match {
            case Some(e) => return (vs, v, e)
            case None => () // torn version: fall back to the previous one
          }
        }
        // no version at all, or every listed version torn (the first-ever
        // commit crashed before writing content): nothing is committed
        return (vs, -1L, Map.empty)
      } catch {
        case e: java.io.FileNotFoundException =>
          attempts += 1
          if (attempts > 20) throw e // not retirement churn — surface it
      }
    }
    (Seq.empty, -1L, Map.empty) // unreachable
  }

  /** The current manifest's entries; empty for a store nothing was ever
    * committed to. */
  def readEntries(fs: FileSystem, store: Path): Entries =
    readCurrent(fs, store)._3

  /** The current manifest's committed batch ids — [[readEntries]] minus
    * the counts. */
  def read(fs: FileSystem, store: Path): Set[Long] =
    readEntries(fs, store).keySet

  /** How old a torn version file's mtime must be before [[commit]] declares
    * its writer dead and heals it. The content write is one small
    * write+close — milliseconds — so a file torn for this long is a crashed
    * writer. A merely-paused writer whose torn file gets healed is caught
    * filesystem-dependently: on HDFS its lease is revoked and close()
    * throws (loud); on POSIX the delete unlinks the inode and write+close
    * SUCCEED — which is why commit's post-close verification re-reads the
    * path and treats missing-or-different content as a lost CAS. Either
    * way, never a silent loss. */
  val DefaultTornStaleMs: Long = 30000L

  /** Filesystem schemes where create-exclusive is a real arbitration point.
    * HDFS-family schemes arbitrate `create(overwrite = false)` server-side
    * (namenode). The LOCAL scheme is listed because [[createExclusive]]
    * routes it through kernel-level O_EXCL — Hadoop's own
    * RawLocalFileSystem implements no-overwrite as an exists() check
    * followed by a plain O_CREAT open, which is NOT atomic (measured 47%
    * double-win under an 8-thread same-path race, ProfileCreateRace).
    * Everything else — S3A/GCS/etc. HEAD-then-PUT semantics — must not run
    * the CAS protocol: two racing writers would BOTH see their create
    * succeed and the last PUT would silently clobber the first. */
  private val AtomicCreateSchemes =
    Set("file", "hdfs", "viewfs", "webhdfs", "hftp", "o3fs", "ofs")

  private def schemeOf(fs: FileSystem, p: Path): String =
    Option(p.toUri.getScheme)
      .orElse(Option(fs.getUri).map(_.getScheme))
      .getOrElse("file").toLowerCase

  /** Open `p` create-exclusive: THE arbitration primitive the CAS commit
    * and the consolidation lease rest on. On HDFS-semantics filesystems
    * `create(overwrite = false)` is atomic at the namenode; on the local
    * filesystem Hadoop's version is check-then-act (see
    * [[AtomicCreateSchemes]]), so local paths open through java.nio
    * CREATE_NEW — O_EXCL at the kernel, atomic across processes. Losing
    * the race surfaces as a [[java.nio.file.FileAlreadyExistsException]]
    * (an IOException) with the path present, exactly the shape the CAS
    * loser-detection already handles.
    *
    * DELIBERATE BYPASS of the passed `fs` for scheme `file`: the java.nio
    * open skips any wrapping FileSystem — in particular
    * ChecksumFileSystem, so version files written this way get NO `.crc`
    * sidecar. That asymmetry is intentional and safe here because the
    * READ path never relies on sidecars either: [[readCurrent]] /
    * `parseVersion` detect torn content via the manifest's own
    * entry-count header (a version whose entry lines don't match the
    * declared count is torn), regardless of checksum presence. A mixed
    * store (some versions with sidecars from `fs.create`, some without)
    * is therefore a cosmetic artifact, not a correctness one. Any other
    * instrumented local wrapper is likewise consciously excluded — the
    * arbitration MUST be the kernel's O_EXCL, and no Hadoop local wrapper
    * provides that. */
  private[graft] def createExclusive(fs: FileSystem,
      p: Path): java.io.OutputStream =
    conditionalPuts.get(schemeOf(fs, p)) match {
      case Some(put) => new ConditionalPutStream(put, p)
      case None if schemeOf(fs, p) == "file" =>
        val local = java.nio.file.Paths.get(p.toUri.getPath)
        if (local.getParent != null)
          java.nio.file.Files.createDirectories(local.getParent)
        java.nio.file.Files.newOutputStream(local,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
      case None => fs.create(p, false)
    }

  /** SPI for object stores that arbitrate WHOLE-OBJECT conditional writes
    * (S3 `If-None-Match: *` PUT, GCS `ifGenerationMatch=0`, Azure
    * `If-None-Match: *`): the one primitive the CAS commit needs that
    * plain S3A-style connectors don't surface. Contract:
    *  - ATOMIC: exactly one of N racing `putIfAbsent` calls on a path
    *    returns true; every loser returns false with the winner's object
    *    untouched.
    *  - WHOLE-OBJECT: readers never observe a partial object — it appears
    *    complete or not at all. (Stronger than the local O_EXCL path,
    *    whose readers CAN see a mid-write file; the torn-version handling
    *    in [[readCurrent]]/[[commit]] exists for that and is simply never
    *    exercised through a conditional-put store.)
    * Register per scheme via [[registerConditionalPut]]; [[commit]] then
    * runs the unmodified CAS protocol with arbitration moved from
    * create-time to close-time (the buffered stream PUTs on close and
    * loses as [[java.nio.file.FileAlreadyExistsException]], which the
    * post-close verify classifies as a lost CAS).
    * ManifestMultiJvmSpec's adapter leg hammers the full three-JVM +
    * SIGKILL race through a link(2)-based local implementation of this
    * trait. */
  trait ConditionalPut {
    def putIfAbsent(path: java.net.URI, content: Array[Byte]): Boolean
  }

  private val conditionalPuts =
    scala.collection.concurrent.TrieMap.empty[String, ConditionalPut]

  /** Install a [[ConditionalPut]] adapter for `scheme` (e.g. "s3a"),
    * making it an arbitration-capable scheme for [[requireAtomicCreate]]
    * and routing [[createExclusive]] through it. JVM-wide. */
  def registerConditionalPut(scheme: String, put: ConditionalPut): Unit =
    conditionalPuts.put(scheme.toLowerCase, put)

  /** Buffer-then-conditional-PUT stream: whole-object semantics demand
    * the content exist before the object can appear, so the write buffers
    * and the CLOSE is the arbitration point. Losing throws
    * FileAlreadyExistsException (an IOException) from close — create-time
    * losers and close-time losers land in the same CAS-loss handling. */
  private final class ConditionalPutStream(put: ConditionalPut, p: Path)
      extends java.io.ByteArrayOutputStream {
    private var done = false
    override def close(): Unit = {
      if (done) return
      done = true
      if (!put.putIfAbsent(p.toUri, toByteArray()))
        throw new java.nio.file.FileAlreadyExistsException(p.toString)
    }
  }

  /** Conf key a deployment sets to assert its store arbitrates
    * create-exclusive even though the scheme is not on the known list
    * (e.g. an S3 connector configured for conditional/If-None-Match
    * writes). */
  val AssumeAtomicCreateKey = "graft.manifest.assume.atomic.create"

  private[graft] def requireAtomicCreate(fs: FileSystem, store: Path): Unit = {
    val scheme = Option(store.toUri.getScheme)
      .orElse(Option(fs.getUri).map(_.getScheme))
      .getOrElse("file").toLowerCase
    if (!AtomicCreateSchemes.contains(scheme) &&
        !conditionalPuts.contains(scheme) &&
        !fs.getConf.getBoolean(AssumeAtomicCreateKey, false))
      throw new UnsupportedOperationException(
        s"manifest commit on $store: scheme '$scheme' is not known to " +
          "arbitrate create(overwrite=false) atomically, so the CAS commit " +
          "protocol would race silently (two writers both 'win' and the " +
          "last PUT clobbers the first). Use an HDFS-semantics filesystem, " +
          "register a conditional-write adapter for the scheme " +
          "(StoreManifest.registerConditionalPut — an If-None-Match PUT " +
          "implementation), or set " +
          s"$AssumeAtomicCreateKey=true after making the store " +
          "conditional-write safe some other way.")
  }

  /** Commit `delta` applied to the CURRENT entries, under compare-and-swap
    * arbitration: read → apply → create `_manifest_v<basis+1>` with
    * `overwrite = false`; a collision (the version already exists — a
    * concurrent writer won) re-reads and re-applies the delta. Callers
    * therefore express INTENT (`_ + (batchId -> count)`,
    * `_ -- sourceIds + (foldId -> count)`), never a full set computed from
    * a stale read — a landing's write can never revert a fold's swap.
    * Returns the entries committed.
    * The store directory is created if missing: a store is manifested
    * from its first write.
    *
    * The version claimed is strictly `basis + 1` where basis is the version
    * whose content this commit read — NEVER the raw listing's max plus one.
    * The two differ exactly when a torn version sits above the basis (a
    * concurrent writer won its create but its content is not yet readable);
    * claiming a higher slot while reading the older basis would silently
    * drop the torn writer's delta the moment its write completes (its
    * version parses clean but is no longer current). Instead the commit
    * WAITS for the torn version to become readable — it then becomes the
    * basis — and past `tornStaleMs` declares its writer dead, deletes the
    * torn file, and takes the slot back through the same create
    * arbitration.
    *
    * @param delta the caller's INTENT, applied to whatever entries are
    *        current at commit time. MUST be idempotent
    *        (`delta(delta(x)) == delta(x)`): both the CAS-loss retry and a
    *        spurious post-close-verify retry re-apply it onto a state that
    *        may already carry its effect. Enforced with a fixpoint check on
    *        every commit — express target state per id, never an increment. */
  def commit(fs: FileSystem, store: Path,
      delta: Entries => Entries,
      tornStaleMs: Long = DefaultTornStaleMs): Entries = {
    requireAtomicCreate(fs, store)
    if (!fs.exists(store)) fs.mkdirs(store)
    var casLosses = 0
    val tornDeadline = System.currentTimeMillis + 4 * tornStaleMs
    while (true) {
      val (vs, basis, cur) = readCurrent(fs, store)
      val next = basis + 1
      val tornAbove = vs.filter(_._1 > basis)
      if (tornAbove.nonEmpty) {
        // arbitrate the torn slot(s) before claiming anything above them
        val now = System.currentTimeMillis
        tornAbove.foreach { case (_, p) =>
          val stale = try now - fs.getFileStatus(p).getModificationTime >=
              tornStaleMs
            catch { case _: java.io.FileNotFoundException => false }
          if (stale) fs.delete(p, false) // dead writer: heal the slot
          else Thread.sleep(20) // live writer mid-write: let it finish
        }
        if (System.currentTimeMillis > tornDeadline)
          throw new IllegalStateException(
            s"manifest commit on $store blocked behind torn version(s) " +
              s"${tornAbove.map(_._2.getName).mkString(", ")} for over " +
              s"${4 * tornStaleMs} ms — inspect and remove them manually")
      } else {
        val entries = delta(cur)
        // Enforce the idempotency contract the post-close verify's safety
        // rests on (see below): a spurious retry re-applies `delta` onto a
        // state that already carries its effect, so `delta` must be a
        // fixpoint on its own output. An increment-style delta
        // (`_ + (id -> (cur(id) + n))`) fails this check on its FIRST
        // commit — deterministically, not only under the rare verify race.
        require(delta(entries) == entries,
          s"manifest commit on $store: delta is not idempotent " +
            "(delta(delta(cur)) != delta(cur)) — the CAS retry and " +
            "post-close-verify paths re-apply deltas, so a non-idempotent " +
            "delta would double-apply silently. Express the commit as a " +
            "target state per id (add/replace/remove), not an increment.")
        commitCrashpoint(s"pre-create:v$next")
        val vp = new Path(store, s"$Prefix$next")
        val out = try Some(createExclusive(fs, vp)) // THE arbitration point
          catch {
            case e: IOException =>
              lostCreateCrashpoint(s"lost-create:v$next")
              e match {
                // the slot existed at the create: a lost CAS, even when
                // later commits have retired it since
                case _: java.nio.file.FileAlreadyExistsException => None
                case _ if fs.exists(vp) => None // lost the CAS
                case _ => throw e // a real IO failure, not a loser
              }
          }
        out match {
          case Some(o) =>
            val body = entries.toSeq.sortBy(_._1).map { case (id, n) =>
              s"$id:$n"
            }
            val text = (s"$Header${entries.size}" +: body)
              .mkString("", "\n", "\n")
            try o.write(text.getBytes("UTF-8")) finally {
              // a conditional-put adapter arbitrates at CLOSE (whole-object
              // If-None-Match): losing surfaces here as
              // FileAlreadyExistsException. Swallow it — the post-close
              // verify below reads the winner's content and classifies
              // this attempt as a lost CAS, the same path a create-time
              // loser takes. Any other close failure propagates.
              try o.close()
              catch { case _: java.nio.file.FileAlreadyExistsException => () }
            }
            postCloseCrashpoint(s"post-close:v$next")
            // POST-CLOSE VERIFY closes two arbitration gaps:
            // (1) POSIX torn-heal inode loss — on local filesystems a
            //     healer that declared THIS writer's in-progress file
            //     torn-stale deletes the path mid-write; write+close then
            //     succeed against the unlinked inode and the delta would
            //     vanish silently. Re-reading the PATH and requiring it to
            //     carry exactly the content just written catches it: the
            //     path is gone, or carries the healer-era winner's content.
            // (2) ABA slot reuse — a writer paused between readCurrent and
            //     create while ≥3 commits land finds its basis+1 slot
            //     retired (deleted) and re-creates it, landing a stale
            //     manifest BELOW the real current. Its own content reads
            //     back fine, so (1) doesn't catch it; a higher version
            //     existing in the re-listing proves the slot was recycled.
            // Either failure → treat as a lost CAS and retry. A retry can
            // be spurious (a legitimate successor committed on top inside
            // the verify window), which is safe because deltas are
            // IDEMPOTENT by contract — add an id, swap fold sources —
            // re-applying onto a state that already carries them is a
            // no-op. The extra read+list per commit is per-BATCH cost.
            val verified =
              (try parseVersion(fs, vp).contains(entries)
               catch { case _: java.io.FileNotFoundException => false }) &&
              versions(fs, store).forall(_._1 <= next)
            if (verified) {
              // retire versions two or more behind; the immediately-previous
              // version survives one more commit so an in-flight reader that
              // listed it can still open it
              vs.foreach { case (v, p) => if (v < basis) fs.delete(p, false) }
              return entries
            } else {
              casLosses += 1
              if (casLosses > 50) throw new IllegalStateException(
                s"manifest commit on $store failed post-close verification " +
                  s"$casLosses times — slot churn this code has no " +
                  "business surviving")
            }
          case None =>
            casLosses += 1
            if (casLosses > 50) throw new IllegalStateException(
              s"manifest commit on $store lost the version race " +
                s"$casLosses times — a writer storm this code has no " +
                "business surviving")
        }
      }
    }
    Map.empty // unreachable
  }
}
