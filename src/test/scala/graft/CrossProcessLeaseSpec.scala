package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{ArtifactLock, VocabIndex}

/** Cross-PROCESS artifact maintenance coordination: per-path JVM
  * monitors serialize writers inside one driver, but a 100-TB
  * deployment runs maintenance from more than one driver JVM —
  * [[graft.ops.ArtifactLock]] therefore CAS-creates a lease file next
  * to the manifest on every outermost withWriteLock. This spec (a) races
  * real updates from TWO JVMs on one artifact path and asserts both
  * processes' deltas land (the lost-update the lease exists to prevent),
  * and (b) pins the lease lifecycle: held while maintaining, released
  * after, stale leases taken over, live leases waited on. */
class CrossProcessLeaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("two JVMs updating one artifact path serialize; both deltas land") {
    val root = java.nio.file.Files.createTempDirectory("lease_2jvm")
    val path = root.toString + "/vocab"
    VocabIndex.buildAndSave(
      Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
        .toDF("doc_id", "text"),
      "text", k = 8, path = path, capacity = Some(4096))

    // the forked test JVM carries the full test classpath (Test/fork)
    val cp = System.getProperty("java.class.path")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val out = root.resolve("subproc.log").toFile
    val n = 6
    val proc = new ProcessBuilder(
      (Seq(javaBin) ++ jdk17AddOpens ++ Seq(
        "-Xmx3g", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.tools.LeaseUpdateMain",
        path, "500", n.toString)): _*)
      .redirectErrorStream(true)
      .redirectOutput(out)
      .start()
    try {
      // race the same number of one-doc updates from THIS JVM while the
      // subprocess runs its own — without the lease both processes can
      // read manifest generation g and publish competing successors,
      // silently dropping one side's docs/slabs
      (0 until n).foreach { i =>
        VocabIndex.update(spark, path,
          Seq((600L + i, s"procMain token${600 + i} lease"))
            .toDF("doc_id", "text"),
          "text", maxSlabs = 4)
      }
      assert(proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
        s"subprocess did not finish; log:\n${scala.io.Source.fromFile(out).mkString}")
      assert(proc.exitValue() == 0,
        s"subprocess failed; log:\n${scala.io.Source.fromFile(out).mkString}")
    } finally if (proc.isAlive) proc.destroyForcibly()

    // every one-doc cycle from BOTH processes must be in the manifest
    val art = VocabIndex.load(spark, path)
    assert(art.nDocs == 2L + 2 * n,
      s"lost update: expected ${2 + 2 * n} docs, manifest has ${art.nDocs}")
    // and the lease is released once all maintenance is done
    val lease = ArtifactLock.leasePathOf(path)
    val fs = lease.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(lease), "lease file not released after maintenance")
  }

  test("a live foreign lease blocks until released; a stale one is taken over") {
    val root = java.nio.file.Files.createTempDirectory("lease_life")
    val path = root.toString + "/vocab"
    val base = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    VocabIndex.buildAndSave(base, "text", k = 4, path = path,
      capacity = Some(1024))
    val leaseFile = java.nio.file.Paths.get(path, ".maintenance.lease")

    // plant a LIVE foreign lease (fresh mtime): an update must WAIT, not
    // proceed — release it after a beat and assert the update then lands
    java.nio.file.Files.write(leaseFile, "9999@elsewhere 0".getBytes("UTF-8"))
    @volatile var deletedAt = 0L
    val releaser = new Thread(() => {
      Thread.sleep(1500)
      java.nio.file.Files.deleteIfExists(leaseFile)
      deletedAt = System.currentTimeMillis()
    })
    releaser.start()
    VocabIndex.update(spark, path,
      Seq((10L, "gamma")).toDF("doc_id", "text"), "text", maxSlabs = 0)
    // captured the instant the update returns: a broken wait would let
    // the update COMPLETE before the releaser's delete (elapsed-time
    // asserts are vacuous — a slow Spark job alone can exceed the
    // releaser's sleep)
    val updateDoneAt = System.currentTimeMillis()
    releaser.join()
    assert(deletedAt > 0 && updateDoneAt >= deletedAt,
      s"update completed ${deletedAt - updateDoneAt} ms BEFORE the live " +
        "foreign lease was released — the wait is broken")
    assert(VocabIndex.load(spark, path).nDocs == 2L)

    // plant a STALE foreign lease (mtime pushed past the threshold):
    // the next maintenance takes it over instead of waiting forever
    java.nio.file.Files.write(leaseFile, "9999@elsewhere 0".getBytes("UTF-8"))
    val staleMs = java.lang.Long.getLong("graft.artifact.lease.stale.ms", 600000L)
    java.nio.file.Files.setLastModifiedTime(leaseFile,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - staleMs - 5000))
    VocabIndex.update(spark, path,
      Seq((11L, "delta")).toDF("doc_id", "text"), "text", maxSlabs = 0)
    assert(VocabIndex.load(spark, path).nDocs == 3L)
    assert(!java.nio.file.Files.exists(leaseFile),
      "lease not released after the takeover's maintenance finished")
  }

  test("heartbeat keeps a long-held lease live; a dead local pid is fast-tracked") {
    val root = java.nio.file.Files.createTempDirectory("lease_beat")
    val path = root.toString + "/vocab"
    VocabIndex.buildAndSave(Seq((1L, "alpha beta")).toDF("doc_id", "text"),
      "text", k = 4, path = path, capacity = Some(1024))
    val leaseFile = java.nio.file.Paths.get(path, ".maintenance.lease")

    // a maintenance job LONGER than the stale threshold must never be
    // classified crashed: the heartbeat (threshold/3, floor 1 s)
    // refreshes the lease's mtime while held
    System.setProperty("graft.artifact.lease.stale.ms", "3000")
    try {
      ArtifactLock.withWriteLock(path) {
        val m0 = java.nio.file.Files.getLastModifiedTime(leaseFile).toMillis
        Thread.sleep(4500) // > staleMs; ≥ 4 heartbeat periods
        val m1 = java.nio.file.Files.getLastModifiedTime(leaseFile).toMillis
        assert(m1 > m0, s"heartbeat never touched the lease ($m0 -> $m1)")
        assert(System.currentTimeMillis() - m1 < 3000,
          "lease mtime is stale mid-job despite the heartbeat")
      }
    } finally System.clearProperty("graft.artifact.lease.stale.ms")
    assert(!java.nio.file.Files.exists(leaseFile))

    // a crashed SAME-HOST holder is taken over once its pid is provably
    // dead AND the mtime shows two missed heartbeats — well before the
    // 10-minute stale threshold (the supervisor-restarts-the-driver
    // case). The planted mtime sits BETWEEN the grace (~405 s at the
    // default threshold) and staleness (600 s), so only the dead-pid
    // path can explain an immediate takeover; the grace also means a
    // live holder invisible to this PID namespace could never be
    // stolen (its heartbeat keeps the mtime fresh).
    val dead = new ProcessBuilder("true").start()
    dead.waitFor()
    val deadPid = dead.pid()
    val host = java.net.InetAddress.getLocalHost.getHostName
    java.nio.file.Files.write(leaseFile,
      s"$deadPid@$host feedcafe ${System.currentTimeMillis()}".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(leaseFile,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 450000)) // grace < 450 s < stale
    val t0 = System.currentTimeMillis()
    VocabIndex.update(spark, path,
      Seq((12L, "epsilon")).toDF("doc_id", "text"), "text", maxSlabs = 0)
    val waited = System.currentTimeMillis() - t0
    assert(waited < 60000, s"dead-pid lease not fast-tracked (waited $waited ms)")
    assert(VocabIndex.load(spark, path).nDocs == 2L)
    assert(!java.nio.file.Files.exists(leaseFile))

    // negative control: a LIVE same-host pid with the same old mtime is
    // NOT fast-tracked — the contender keeps waiting (and would only
    // take over at true staleness)
    java.nio.file.Files.write(leaseFile,
      (s"${ProcessHandle.current.pid}@$host cafef00d " +
        s"${System.currentTimeMillis()}").getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(leaseFile,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 450000))
    @volatile var deletedAt2 = 0L
    val releaser2 = new Thread(() => {
      Thread.sleep(1500)
      java.nio.file.Files.deleteIfExists(leaseFile)
      deletedAt2 = System.currentTimeMillis()
    })
    releaser2.start()
    VocabIndex.update(spark, path,
      Seq((13L, "zeta")).toDF("doc_id", "text"), "text", maxSlabs = 0)
    // finished-after-release, not elapsed-time (see above): a stolen
    // live lease would let the update complete before the delete
    val updateDoneAt2 = System.currentTimeMillis()
    releaser2.join()
    assert(deletedAt2 > 0 && updateDoneAt2 >= deletedAt2,
      s"update completed ${deletedAt2 - updateDoneAt2} ms BEFORE the live " +
        "same-host lease was released — the dead-pid fast path stole it")
    assert(VocabIndex.load(spark, path).nDocs == 3L)
  }
}
