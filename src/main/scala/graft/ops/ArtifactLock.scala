package graft.ops

/** JVM-wide mutual exclusion for artifact MAINTENANCE. Every artifact
  * kind (MinHash/Bloom/IVF/Vocab) mutates its directory as a
  * read-modify-write cycle over `<path>/manifest.json` plus staged data
  * moves; the HTTP server runs requests on a thread pool, so two
  * concurrent maintenance calls on the SAME artifact path could
  * interleave those cycles — both read the same manifest, both write their own
  * successor, and one update's registry entries (or Bloom delta, or
  * refined centroids) silently vanish. Wrapping each mutating entry
  * point in [[withWriteLock]] serializes writers per normalized path so
  * the cycles compose; concurrent maintenance on DIFFERENT artifacts
  * stays parallel (per-path monitors, no global lock).
  *
  * Scope: serialization is two-layer. WITHIN a JVM, per-path monitors
  * (cheap, reentrant — a mutating op may compose others, e.g. update →
  * auto-compact). ACROSS processes, a lease FILE next to the manifest
  * (`<path>/.maintenance.lease`, created exclusively — the one create
  * POSIX and HDFS both make atomic): a second driver JVM maintaining
  * the same artifact path blocks until the holder releases, so its
  * read-modify-write cycle starts from the first writer's published
  * manifest and no delta is lost. A crashed holder's lease goes STALE
  * after `graft.artifact.lease.stale.ms` (default 10 min — longer than
  * any artifact-sized maintenance job) and is taken over; takeover
  * contenders race the same exclusive create, so exactly one wins.
  * Waiters give up with an error naming the holder after
  * `graft.artifact.lease.timeout.ms` (default 10 min). The lease is
  * acquired once per outermost [[withWriteLock]] (reentrant entries
  * share it). The exclusion guarantee requires a filesystem with an
  * ATOMIC exclusive create and an atomic rename — local POSIX and
  * HDFS-class stores. On an object store whose create/rename are
  * emulated (e.g. plain S3 without conditional writes), the lease
  * degrades to advisory best-effort: racing maintainers can both
  * believe they created or claimed it, so deployments on such stores
  * need an external coordination layer for concurrent maintenance.
  * Keying is by the
  * normalized path STRING (the server resolves each artifact name to one
  * canonical root, so filesystem aliasing of the same directory through
  * different spellings is not a supported layout). READS are not locked:
  * loads resolve the manifest in one read and every mutation publishes
  * its manifest ATOMICALLY ([[ArtifactStore.publishManifest]]: write a hidden temp
  * file, then a rename-with-OVERWRITE — atomic on POSIX local
  * filesystems and HDFS), so an unlocked reader sees either the old or
  * the new manifest bytes, never a truncated or partial file (the
  * previous create-overwrite truncated in place, a real torn-read
  * window hammered shut by ArtifactRaceSpec).
  */
object ArtifactLock {

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** TRUE iff a failure bottoms out in a MISSING INPUT FILE — the
    * signature of artifact maintenance racing a read: a generation
    * prune or shard swap deleting files after the read resolved its
    * manifest or captured its scan's file listing. Matched tightly on
    * file-read signatures (driver-side FileNotFoundException anywhere
    * in the cause chain; Spark's FAILED_READ_FILE.FILE_NOT_EXIST error
    * class or a re-stringified executor-side FileNotFoundException in a
    * SparkException; Catalyst's PATH_NOT_FOUND at planning time) — NOT
    * on a bare "does not exist" substring, which would misclassify
    * genuine missing-dataset errors as retryable churn. */
  def isMissingInputFile(e: Throwable): Boolean = {
    var cur: Throwable = e
    var depth = 0
    while (cur != null && depth < 20) {
      cur match {
        case _: java.io.FileNotFoundException => return true
        // UNABLE_TO_INFER_SCHEMA is the same race one instant wider: a
        // swap's delete→rename window can leave the relation's directory
        // LISTABLE but holding zero parquet footers (e.g. a sharded
        // layout whose only shard is mid-swap), so the read fails at
        // schema inference before any file opens — caught live by the
        // MinHash churn test. A genuinely-empty user path costs two
        // bounded retries before the real error surfaces.
        case a: org.apache.spark.sql.AnalysisException
            if a.getCondition == "PATH_NOT_FOUND" ||
              a.getCondition == "UNABLE_TO_INFER_SCHEMA" => return true
        case s: org.apache.spark.SparkException
            if Option(s.getMessage).exists(m =>
              m.contains("FILE_NOT_EXIST") ||
                m.contains("FileNotFoundException")) => return true
        case _ => ()
      }
      cur = if (cur.getCause eq cur) null else cur.getCause
      depth += 1
    }
    false
  }

  /** Bounded retry for artifact LOADS racing maintenance: runs `f` (a
    * whole load — it must re-resolve the manifest from scratch so the
    * retry sees the freshly-published generation and a fresh file
    * listing) and retries up to twice, with a short backoff, when the
    * failure classifies as a missing input file ([[isMissingInputFile]],
    * checked down the cause chain — the loads attach causes when they
    * wrap read failures into their IllegalArgumentException contract).
    * This is the library-level twin of the HTTP server's re-plan retry
    * (GraftServer's query attempt loop): generation prunes and shard
    * swaps are milliseconds wide, so two re-resolutions close the
    * window a lagging reader can still hit even with
    * [[ArtifactStore.KeepGenerations]] prior generations kept. Every other failure
    * propagates unchanged on the first attempt. `f` must be a pure
    * read. */
  def retryingLoad[T](f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch { case e: Throwable if attempt < 2 && isMissingInputFile(e) =>
        attempt += 1
        Thread.sleep(25L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Bounded re-plan retry for library-level PROBES of a lazy artifact
    * relation (MinHash signatures, decontamination grams): runs `use`
    * against a fresh `load` and, when the ACTION fails because
    * maintenance deleted files the plan captured (a MinHash shard swap
    * or a generation prune — [[isMissingInputFile]]), loads again and
    * re-runs, up to twice. The reload is what heals: it resolves a fresh
    * manifest and file listing. `use` must be a pure read and must
    * contain the action (collect/count/write), not just the plan, or the
    * retry guards nothing. The library twin of the HTTP server's re-plan
    * retry. */
  def probeRetrying[A, T](load: => A)(use: A => T): T = retryingLoad(use(load))

  /** Normalize a path string to its lock key: Hadoop Path normalization
    * (collapses `//`, strips trailing `/`) so the spellings one caller
    * plausibly varies map to one monitor. */
  private def keyOf(path: String): String =
    new org.apache.hadoop.fs.Path(path).toString

  /** Run `f` holding this artifact path's writer monitor AND the
    * cross-process maintenance lease. Reentrant: the monitor by JVM
    * semantics, the lease by an explicit depth count (acquired on the
    * outermost entry only), so a mutating op may compose others (e.g.
    * update → auto-compact) without self-deadlock. */
  def withWriteLock[T](path: String)(f: => T): T = {
    val key = keyOf(path)
    locks.computeIfAbsent(key, _ => new Object).synchronized {
      // depth mutations run with the monitor held, so plain get/put
      val depth = leaseDepth.getOrDefault(key, 0)
      if (depth == 0) acquireLease(path, key)
      leaseDepth.put(key, depth + 1)
      try f
      finally {
        val d = leaseDepth.get(key) - 1
        if (d == 0) { leaseDepth.remove(key); releaseLease(path, key) }
        else leaseDepth.put(key, d)
      }
    }
  }

  private val leaseDepth =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** A held lease's heartbeat handle. The monitor serializes the beat
    * body against release: cancel(false) does not stop an in-flight
    * beat, and on a rewrite-heartbeat filesystem a beat landing after
    * the release's delete would RESURRECT the lease as a fresh-looking
    * orphan every later writer waits out. The beat re-checks `released`
    * inside the monitor; release flips it inside the same monitor
    * before deleting. */
  private final class HeldLease(val token: String) {
    @volatile var beat: java.util.concurrent.ScheduledFuture[_] = null
    var released = false // guarded by this's monitor
    // set by a rewrite-heartbeat that found a foreign token (a fenced
    // takeover happened while our beats were paused); release must then
    // not touch the successor's lease at all
    var lost = false // guarded by this's monitor
  }
  private val heldLeases =
    new java.util.concurrent.ConcurrentHashMap[String, HeldLease]()

  /** One daemon thread touches every held lease's mtime at a third of
    * the stale threshold, so a long maintenance job (larger than the
    * threshold — real at 100 TB) is never classified crashed and never
    * loses mutual exclusion mid-write. */
  private lazy val leaseBeater =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-lease-heartbeat"); t.setDaemon(true); t
    })

  private def leaseStaleMs: Long =
    java.lang.Long.getLong("graft.artifact.lease.stale.ms", 600000L)
  private def leaseTimeoutMs: Long =
    java.lang.Long.getLong("graft.artifact.lease.timeout.ms", 600000L)

  private[graft] def leasePathOf(path: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(path, ".maintenance.lease")

  /** The session's Hadoop configuration when a SparkSession is live —
    * lease files must resolve through the SAME filesystem every other
    * artifact operation uses (spark.hadoop.* credentials, fs.defaultFS);
    * a bare `new Configuration()` can resolve the identical path string
    * to a DIFFERENT filesystem (e.g. local instead of HDFS), silently
    * voiding cross-process exclusion. */
  private def leaseHadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(throw new IllegalStateException(
        "no live SparkSession while resolving the maintenance-lease " +
          "filesystem — a bare Configuration could resolve the same path " +
          "string to a DIFFERENT filesystem (local instead of HDFS), " +
          "silently voiding cross-process exclusion; create the session " +
          "before taking artifact write locks"))

  private def localLeaseNio(lease: org.apache.hadoop.fs.Path)
      : java.nio.file.Path =
    java.nio.file.Paths.get(lease.getParent.toUri.getPath)
      .resolve(lease.getName)

  /** Reads the lease's current content, None when missing/unreadable
    * (shared by the acquire poll, the takeover verify, and the
    * token-checked release). */
  private def readLeaseContent(fs: org.apache.hadoop.fs.FileSystem,
                               lease: org.apache.hadoop.fs.Path)
      : Option[String] =
    try {
      val in = fs.open(lease)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: Exception => None }

  /** Acquire the cross-process maintenance lease: create
    * `<path>/.maintenance.lease` EXCLUSIVELY (java.nio CREATE_NEW on
    * local filesystems — atomic O_EXCL; Hadoop create(overwrite=false)
    * elsewhere — atomic at the HDFS namenode), recording
    * `pid@host <uuid> <epochMillis>`; a heartbeat then touches the
    * file's mtime while held (falling back to rewriting the same
    * content where the filesystem lacks setTimes). A lease is presumed
    * CRASHED when its mtime is older than the stale threshold, or —
    * the fast path for a supervisor restarting a crashed driver on the
    * same host — when its recorded pid is provably dead locally AND
    * the mtime shows two missed heartbeats (the grace guards against a
    * live holder whose pid is merely invisible to this process: PID
    * namespaces, duplicated hostnames — a live one would have touched
    * the file). Takeover is FENCED twice: the contender claims the
    * dead lease by renaming it to a unique sibling (exactly one rename
    * wins; the loser's source is gone), then VERIFIES the claimed
    * bytes equal the content it classified as crashed — a rename that
    * raced a successor and grabbed a LIVE lease instead is renamed
    * straight back. A verified claim re-races the exclusive create
    * immediately; every other iteration checks the wait deadline and
    * sleeps (a persistently failing rename — e.g. a read-only
    * principal — still honors the timeout instead of spinning).
    * Waiting gives up naming the holder after the timeout. */
  private def acquireLease(path: String, key: String): Unit = {
    val lease = leasePathOf(path)
    val conf = leaseHadoopConf()
    val fs = lease.getFileSystem(conf)
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    val local = scheme == "file" || scheme == "local"
    val hostname = java.net.InetAddress.getLocalHost.getHostName
    val token = s"${ProcessHandle.current.pid}@$hostname " +
      java.util.UUID.randomUUID().toString.take(8)
    val deadline = System.currentTimeMillis() + leaseTimeoutMs
    fs.mkdirs(new org.apache.hadoop.fs.Path(path))

    val beatPeriod = math.max(1000L, leaseStaleMs / 3)
    // pid provably dead on THIS host AND two missed heartbeats ⇒
    // crashed without waiting out the full stale threshold (the
    // restart-from-checkpoint supervisor case). The mtime grace is the
    // safety half: a LIVE holder whose pid is merely invisible here
    // (container PID namespaces, duplicated hostnames) keeps touching
    // the file, so it can never look dead.
    val deadPidGraceMs = 2 * beatPeriod + 5000L
    def holderDeadLocally(content: String): Boolean =
      content.split(" ").headOption.map(_.split("@")) match {
        case Some(Array(pid, host)) if host == hostname =>
          pid.toLongOption.exists(p =>
            ProcessHandle.of(p).map[Boolean](_ => false).orElse(true))
        case _ => false
      }

    while (true) {
      val body = s"$token ${System.currentTimeMillis()}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val created =
        try {
          if (local) {
            java.nio.file.Files.write(localLeaseNio(lease), body,
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
            true
          } else {
            val out = fs.create(lease, false)
            try out.write(body) finally out.close()
            true
          }
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        }
      if (created) {
        val held = new HeldLease(token)
        var warnedNoSetTimes = false
        held.beat = leaseBeater.scheduleAtFixedRate(() => {
          // the monitor + released flag keep a rewrite-beat from
          // resurrecting a lease releaseLease just deleted
          held.synchronized { if (!held.released) {
            try {
              val now = System.currentTimeMillis()
              if (local) java.nio.file.Files.setLastModifiedTime(
                localLeaseNio(lease),
                java.nio.file.attribute.FileTime.fromMillis(now))
              else try fs.setTimes(lease, now, -1)
              catch { case _: UnsupportedOperationException =>
                // object stores without setTimes: rewriting the same
                // token with fresh millis refreshes the mtime instead; a
                // contender reading mid-rewrite sees unparseable bytes,
                // which classify as nothing (never as dead)
                if (!warnedNoSetTimes) {
                  log.warn(s"$lease: filesystem lacks setTimes — " +
                    "heartbeating by rewrite")
                  warnedNoSetTimes = true
                }
                // mirror releaseLease's token check: if our beats paused
                // past the stale threshold and a contender completed a
                // fenced takeover, the lease now carries the SUCCESSOR's
                // token — blindly recreating it would hand our token-
                // checked release a file it recognizes, whose delete
                // would let a THIRD writer acquire. Rewrite only while
                // the lease is still ours; on loss (foreign token or
                // vanished file) stop beating and record the loss so
                // release skips the delete.
                readLeaseContent(fs, lease) match {
                  case Some(c) if c.startsWith(token + " ") =>
                    val out = fs.create(lease, true)
                    try out.write(s"$token $now".getBytes(
                      java.nio.charset.StandardCharsets.UTF_8))
                    finally out.close()
                  case other =>
                    held.lost = true
                    log.warn(s"maintenance lease at $lease was lost " +
                      s"mid-job (now: ${other.getOrElse("<missing>")}) — " +
                      "a contender classified this holder stale and took " +
                      "over; stopping the heartbeat. Mutual exclusion for " +
                      "the remainder of this job is NOT guaranteed.")
                    val b = held.beat
                    if (b != null) b.cancel(false)
                }
              }
            } catch { case e: Exception =>
              log.warn(s"maintenance-lease heartbeat at $lease failed: $e")
            }
          } }
        }, beatPeriod, beatPeriod, java.util.concurrent.TimeUnit.MILLISECONDS)
        heldLeases.put(key, held)
        return
      }
      // one getFileStatus per poll; content is read only when the age
      // already makes the holder suspect (a waiter behind a live lease
      // must not hammer opens at 20/s for up to the whole timeout)
      val observed: Option[(Long, Option[String])] =
        try {
          val st = fs.getFileStatus(lease)
          val age = System.currentTimeMillis() - st.getModificationTime
          val content =
            if (age > math.min(leaseStaleMs, deadPidGraceMs))
              readLeaseContent(fs, lease)
            else None
          Some((age, content))
        } catch { case _: java.io.FileNotFoundException => None } // released
      def moveLease(src: org.apache.hadoop.fs.Path,
                    dst: org.apache.hadoop.fs.Path): Boolean =
        try {
          if (local) {
            java.nio.file.Files.move(localLeaseNio(src), localLeaseNio(dst))
            true
          } else fs.rename(src, dst)
        } catch { case _: Exception => false }
      def isCrashed(age: Long, content: Option[String]): Boolean =
        age > leaseStaleMs ||
          (age > deadPidGraceMs && content.exists(holderDeadLocally))
      val crashed = observed.exists { case (age, content) =>
        isCrashed(age, content)
      }
      // mtime survives rename on POSIX locals and HDFS-class stores —
      // there the post-rename verdict below is authoritative. A store
      // whose rename is copy+delete gives the claim a FRESH mtime; the
      // verdict falls back to content equality with the bytes read at
      // classification (best-effort, like everything else on such
      // stores — see the class doc), because otherwise a genuinely
      // crashed lease could never pass the verdict and would block
      // maintenance until manually deleted.
      val renamePreservesMtime =
        local || scheme == "hdfs" || scheme == "viewfs" || scheme == "webhdfs"
      val claimVerified = crashed && {
        // fenced takeover, twice over: (1) exactly one contender wins
        // the rename — the losers' source is gone, so nobody can delete
        // a LIVE successor; (2) the crashed VERDICT is re-derived on
        // the claimed file itself (the claim is exclusively ours — its
        // stat and bytes cannot change under us), so a rename that
        // raced a full takeover and grabbed the successor's fresh live
        // lease fails the verdict and is renamed straight back. An
        // immediate PRE-RENAME re-stat shrinks the window in which a
        // live successor can be grabbed at all (a grabbed-then-restored
        // live lease briefly has no name, which a third contender's
        // create could win — unavoidable without compare-and-rename,
        // so: re-check, restore with retries, and log loudly).
        val preOk =
          try {
            val st = fs.getFileStatus(lease)
            isCrashed(System.currentTimeMillis() - st.getModificationTime,
              observed.get._2)
          } catch { case _: Exception => false }
        val claim = new org.apache.hadoop.fs.Path(lease.getParent,
          s".maintenance.lease.takeover.${java.util.UUID.randomUUID().toString.take(8)}")
        preOk && moveLease(lease, claim) && {
          val claimContent = readLeaseContent(fs, claim)
          val verdict =
            if (renamePreservesMtime)
              try {
                val st = fs.getFileStatus(claim)
                // an unreadable-but-mtime-stale claim is still crashed
                // (a crashed create can leave a truncated lease; content
                // is only needed for the dead-pid branch)
                isCrashed(System.currentTimeMillis() - st.getModificationTime,
                  claimContent)
              } catch { case _: Exception => false }
            else claimContent.isDefined && claimContent == observed.get._2
          if (verdict) {
            log.warn(s"took over crashed maintenance lease at $lease " +
              s"(holder was: ${claimContent.getOrElse("unknown")})")
            try fs.delete(claim, false) catch { case _: Exception => () }
            true
          } else {
            // raced a successor: give the live lease its name back; a
            // third contender may have created in the gap (restore then
            // fails) — retry briefly, then log the loss loudly
            var restored = false
            var tries = 0
            while (!restored && tries < 3) {
              restored = moveLease(claim, lease)
              tries += 1
              if (!restored) Thread.sleep(50)
            }
            if (!restored) log.error(
              s"takeover at $lease raced a successor and could not " +
                "restore it — that holder has lost its lease file; its " +
                "release will warn and its job may lose exclusion")
            false
          }
        }
      }
      if (claimVerified) {
        // re-race the create immediately: a verified claim must not be
        // able to fall through to the timeout below
      } else if (System.currentTimeMillis() > deadline) {
        throw new IllegalStateException(
          s"timed out after $leaseTimeoutMs ms waiting for the artifact " +
            s"maintenance lease at $lease " +
            s"(holder: ${readLeaseContent(fs, lease).getOrElse("unknown")}) — " +
            "another driver is maintaining this artifact, or a crashed " +
            "holder's lease has not yet gone stale " +
            "(graft.artifact.lease.stale.ms)")
      } else Thread.sleep(50)
    }
  }

  /** Release only OUR lease: the content is re-read and must carry this
    * acquisition's token — if a (heartbeat-failed, stale-classified)
    * lease was taken over mid-job, deleting blindly would remove the
    * SUCCESSOR's live lease and let a third writer in. The read→delete
    * pair is not atomic, but the residual window requires the lease to
    * have been stolen in the same instant, which the heartbeat exists
    * to prevent; the takeover path recovers an unreleased file. */
  private def releaseLease(path: String, key: String): Unit = {
    val held = Option(heldLeases.remove(key))
    held.foreach(_.beat.cancel(false))
    // the delete runs under the HeldLease monitor with `released` set:
    // cancel(false) does not stop an in-flight beat, and a rewrite-beat
    // landing after this delete would resurrect the lease as an orphan
    held.foreach(h => h.synchronized {
      h.released = true
      if (h.lost)
        log.warn(s"maintenance lease under $path was lost to a fenced " +
          "takeover mid-job — leaving the successor's lease untouched")
      else try {
        val lease = leasePathOf(path)
        val fs = lease.getFileSystem(leaseHadoopConf())
        readLeaseContent(fs, lease) match {
          case Some(c) if c.startsWith(h.token) =>
            fs.delete(lease, false); ()
          case Some(c) =>
            log.warn(s"maintenance lease at $lease is no longer ours " +
              s"(holder: $c) — leaving it; our job may have overrun the " +
              "stale threshold despite the heartbeat")
          case None => ()
        }
      } catch { case e: Exception =>
        // the stale-takeover path recovers an unreleased lease; still loud
        log.warn(s"failed to release maintenance lease under $path: $e")
      }
    })
  }
}
