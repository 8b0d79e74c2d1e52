package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** The one manifest format and generation lifecycle behind the five
  * persisted index families ([[BloomIndex]], [[IvfIndex]],
  * [[MinHashIndex]], [[DecontIndex]], [[VocabIndex]]). Each family keeps
  * only its payload codec, its build/update algebra and the validation
  * of its own fields; what they share lives here:
  *
  *   - `<path>/manifest.json`: one JSON object carrying `version`,
  *     `kind` and `data_gen` plus the family's fields. [[publish]] writes
  *     it atomically ([[publishManifest]]); [[read]] checks presence,
  *     syntax, kind and version in one place and hands the family a
  *     typed [[Manifest]] view.
  *   - Generationed data directories ([[genDirName]]): a mutation
  *     writes generation [[nextGen]], publishes the manifest that points
  *     at it, then prunes all but [[KeepGenerations]] older generations
  *     ([[pruneGenerations]]).
  *   - Payload IO: driver-held payloads as raw files ([[writeBytesFile]]
  *     / [[readBytesFile]]) and parquet relations through
  *     [[readRelation]]. Read failures keep their cause attached, so
  *     [[ArtifactLock.retryingLoad]] can tell a maintenance race from
  *     corruption.
  *
  * Format version 2 makes every field its writers always emit
  * mandatory: a missing or mistyped field reads as corruption, never as
  * a defaulted legacy value. A version-1 manifest is refused with a
  * rebuild instruction (no reader for the older layouts exists), and a
  * version above the build's reads as a newer format.
  *
  * Writer serialization (the per-path monitor and the cross-process
  * lease) and the bounded load retry live in [[ArtifactLock]].
  */
object ArtifactStore {

  /** A kind- and version-checked manifest. Getters validate as they
    * read: a missing or mistyped field fails as
    * `IllegalArgumentException("<what> at <path> is corrupt: bad <field>
    * <got>")`. The `opt` getters are only for fields a v2 writer may
    * legitimately omit (a vocabulary's `capacity`, a slab's `covers`,
    * MinHash's alternative shard-layout fields). */
  final class Manifest private[ops] (val path: String, val what: String,
                                     val fields: scala.collection.Map[String, Any]) {
    def corrupt(detail: String, cause: Throwable = null): Nothing =
      throw new IllegalArgumentException(s"$what at $path is corrupt: $detail", cause)

    private[ops] def got(field: String): String =
      fields.get(field).fold("(missing)")(_.toString)

    private def typed[A](field: String)(pf: PartialFunction[Any, A]): A =
      fields.get(field).collect(pf).getOrElse(corrupt(s"bad $field ${got(field)}"))

    private def optTyped[A](field: String)(pf: PartialFunction[Any, A]): Option[A] =
      if (fields.contains(field)) Some(typed(field)(pf)) else None

    private val nonNegLong: PartialFunction[Any, Long] = { case l: Long if l >= 0 => l }
    private val posIntPf: PartialFunction[Any, Int] = {
      case l: Long if l > 0 && l <= Int.MaxValue => l.toInt
    }
    private val longList: PartialFunction[Any, Seq[Long]] = {
      case l: List[_] if l.forall(_.isInstanceOf[Long]) => l.asInstanceOf[List[Long]]
    }

    def long(field: String): Long = typed(field)(nonNegLong)
    def posInt(field: String): Int = typed(field)(posIntPf)
    def string(field: String): String = typed(field) { case s: String => s }
    def double(field: String): Double = typed(field) { case d: Double => d }
    def dataGen: Long = long("data_gen")

    def optLong(field: String): Option[Long] = optTyped(field)(nonNegLong)
    def optPosInt(field: String): Option[Int] = optTyped(field)(posIntPf)
    def optLongs(field: String): Option[Seq[Long]] = optTyped(field)(longList)

    /** A list of JSON objects (e.g. the vocabulary's slab registry), each
      * as its own view so its fields validate the same way. */
    def entries(field: String): Seq[Manifest] =
      typed(field) { case l: List[_] => l }.map {
        case m: scala.collection.Map[String @unchecked, Any @unchecked] =>
          new Manifest(path, s"$what $field entry", m)
        case other => corrupt(s"bad $field entry $other")
      }
  }

  /** Read and check `<path>/manifest.json`. Every failure is an
    * IllegalArgumentException naming `what` and `path`: a missing
    * manifest, unparsable JSON or a non-object body, a foreign `kind`,
    * and a `version` other than `version` ("older format … rebuild it" /
    * "newer format"). Field validation is left to the returned view. */
  def read(spark: SparkSession, path: String, kind: String, version: Int,
           what: String): Manifest = {
    val mPath = new Path(path, "manifest.json")
    val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(mPath))
      throw new IllegalArgumentException(s"no $what at $path (missing manifest.json)")
    val in = fs.open(mPath)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val parsed =
      try graft.engine.QueryJson.parse(text)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"malformed $what manifest at $path: ${e.getMessage}") }
    val m = parsed match {
      case f: scala.collection.Map[String @unchecked, Any @unchecked] =>
        new Manifest(path, what, f)
      case _ => throw new IllegalArgumentException(
        s"malformed $what manifest at $path: not a JSON object")
    }
    if (!m.fields.get("kind").contains(kind))
      throw new IllegalArgumentException(
        s"artifact at $path is kind=${m.got("kind")}, expected $kind ($what)")
    m.fields.get("version") match {
      case Some(v: Long) if v == version => m
      case Some(v: Long) if v > version => throw new IllegalArgumentException(
        s"$what at $path is in a newer format (version $v); this build " +
          s"reads version $version")
      case Some(v: Long) if v > 0 => throw new IllegalArgumentException(
        s"$what at $path is in an older format (version $v) — rebuild it " +
          "(buildAndSave, or the Build*Index tools)")
      case _ => m.corrupt(s"bad version ${m.got("version")}")
    }
  }

  /** Publish the manifest of generation `newGen`: `version`, `kind`,
    * `data_gen` and then the family's `fields`, atomically
    * ([[publishManifest]]), followed by the prune of `bases`' older
    * generations ([[pruneGenerations]]). Caller holds the write lock and
    * has already written generation `newGen`'s data. */
  def publish(spark: SparkSession, path: String, kind: String, version: Int,
              newGen: Long, fields: Seq[(String, Any)],
              bases: Seq[String]): Unit = {
    val manifest = mutable.LinkedHashMap[String, Any](
      "version" -> version.toLong, "kind" -> kind, "data_gen" -> newGen) ++= fields
    publishManifest(spark, path, graft.engine.QueryJson.write(manifest))
    pruneGenerations(spark, path, bases, newGen)
  }

  /** Read the parquet relation at `<path>/<dir>`. A read failure becomes
    * `<what> at <path> is corrupt: unreadable <name>` WITH the
    * AnalysisException attached: [[ArtifactLock.retryingLoad]]'s
    * classifier walks the cause chain to tell a maintenance race
    * (PATH_NOT_FOUND on a pruned generation) from real corruption. */
  private[graft] def readRelation(spark: SparkSession, m: Manifest, dir: String,
                                  name: String): DataFrame =
    try spark.read.parquet(s"${m.path}/$dir")
    catch { case e: org.apache.spark.sql.AnalysisException =>
      m.corrupt(s"unreadable $name: ${e.getMessage}", e) }

  /** Atomically publish `json` as `<path>/manifest.json`: write to a
    * hidden sibling temp file, then rename over the target — a POSIX
    * rename on local filesystems, FileContext's rename with OVERWRITE
    * elsewhere, each the rename its filesystem guarantees atomic.
    * Readers racing the publish see complete old bytes or complete new
    * bytes; there is no moment where the manifest is missing or
    * truncated. */
  def publishManifest(spark: SparkSession, path: String, json: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path, "manifest.json")
    val tmp = new Path(path,
      s".manifest.json.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val bytes = json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val fs = p.getFileSystem(conf)
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (scheme == "file" || scheme == "local") {
      // Hadoop's local FileContext rename with OVERWRITE deletes the
      // destination FIRST (a missing-manifest window the ArtifactRaceSpec
      // hammer actually caught under load), so the temp is written and
      // moved with java.nio. Hadoop's checksummed create would leave a
      // `.crc` sidecar the move cannot carry, and a `.manifest.json.crc`
      // from a manifest once written through Hadoop would no longer match:
      // it goes before the move, so a reader in between reads the old
      // manifest unchecked rather than the new one against a stale sum.
      val dir = java.nio.file.Paths.get(new Path(path).toUri.getPath)
      val tmpFile = dir.resolve(tmp.getName)
      try {
        java.nio.file.Files.write(tmpFile, bytes)
        java.nio.file.Files.deleteIfExists(dir.resolve(".manifest.json.crc"))
        java.nio.file.Files.move(tmpFile, dir.resolve(p.getName),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Throwable =>
        // a failed publish must not leak the hidden temp (nothing else
        // ever cleans a live-JVM failure; crash leftovers are swept by
        // pruneGenerations). The publish itself still failed — rethrow.
        try java.nio.file.Files.deleteIfExists(tmpFile) catch { case _: Exception => () }
        throw e
      }
      // best effort: the sidecars temps once written through Hadoop left
      try {
        val orphans = java.nio.file.Files.newDirectoryStream(dir, "..manifest.json.*.tmp.crc")
        try orphans.forEach(f => java.nio.file.Files.deleteIfExists(f)) finally orphans.close()
      } catch { case _: java.io.IOException => () }
    } else {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      // HDFS-class filesystems implement rename-with-OVERWRITE
      // atomically at the namenode
      try org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      catch { case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Exception => () }
        throw e
      }
    }
  }

  /** Publish driver-held `bytes` as `<dir>/<name>` WITHOUT a Spark job:
    * write a hidden sibling temp, rename into place. The payloads are
    * driver-scale by construction (a serialized BloomFilter, nCells×dim
    * doubles), so a plain filesystem write is the honest cost — a
    * one-row parquet write would pay a whole Spark action (~300 ms of
    * planning, scheduling and commit at any size) to move bytes the
    * driver already holds. Readers are safe: the file is complete and
    * renamed into place BEFORE the manifest points at its generation
    * dir, and loads of a pruned generation heal through
    * [[ArtifactLock.retryingLoad]]. */
  private[graft] def writeBytesFile(spark: SparkSession, dir: String, name: String,
                                    bytes: Array[Byte]): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(d)
    val tmp = new Path(d, s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val dst = new Path(d, name)
    // generation dirs are fresh per mutation, but a hand-managed path
    // may reuse one — clear any stale target so the rename cannot fail
    // into a half-published state
    try fs.delete(dst, false) catch { case _: Exception => () }
    if (!fs.rename(tmp, dst)) {
      try fs.delete(tmp, false) catch { case _: Exception => () }
      throw new IllegalStateException(s"could not publish $dst")
    }
  }

  /** Read `<path>/<file>` fully into driver memory — the read side of
    * [[writeBytesFile]], no Spark job. A missing file (a prune racing
    * this read, or real damage) fails as `<what> at <path> is corrupt:
    * unreadable <name>` with the FileNotFoundException attached, which
    * [[ArtifactLock.retryingLoad]]'s classifier treats as a maintenance
    * race and heals with a fresh manifest resolve. */
  private[graft] def readBytesFile(spark: SparkSession, m: Manifest, file: String,
                                   name: String): Array[Byte] = {
    val p = new Path(m.path, file)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in =
      try fs.open(p)
      catch { case e: java.io.FileNotFoundException =>
        m.corrupt(s"unreadable $name: ${e.getMessage}", e) }
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toByteArray
    } finally in.close()
  }

  /** Generation-suffixed data directory name: generation 0 is the bare
    * base name, generation N > 0 is `<base>-N`. Mutations write the NEXT
    * generation's dirs and repoint the (atomically published) manifest
    * (`data_gen`): an unlocked reader that resolved the old manifest
    * keeps reading the old generation's files, which stay on disk until
    * a later prune. In-place Overwrite/swap gave racing readers missing
    * dirs and vanished footers (ArtifactRaceSpec). */
  private[graft] def genDirName(base: String, gen: Long): String =
    if (gen <= 0L) base else s"$base-$gen"

  /** The generation a mutation at `path` writes: 0 for a fresh path, the
    * live manifest's `data_gen` + 1 otherwise. A manifest that cannot
    * be read (corrupt, foreign, or without a generation) counts as
    * generation 0, so a rebuild over it writes generation 1 and never
    * truncates directories a reader may hold open. */
  private[graft] def nextGen(spark: SparkSession, path: String): Long = {
    val mPath = new Path(path, "manifest.json")
    val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(mPath)) 0L
    else try {
      val in = fs.open(mPath)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      graft.engine.QueryJson.parse(text) match {
        case m: scala.collection.Map[String @unchecked, Any @unchecked] =>
          m.get("data_gen") match {
            case Some(l: Long) if l >= 0 => l + 1L
            case _ => 1L
          }
        case _ => 1L
      }
    } catch { case _: Exception => 1L }
  }

  /** How many PRIOR generations a prune keeps alive for unlocked
    * readers. One was not enough: a load is manifest-read → data-read
    * (plus the scan's captured file listing), so a reader that resolved
    * generation N keeps touching N's files for a visible span — and two
    * back-to-back saves inside that span would delete N under it
    * (exactly the ArtifactRaceSpec IVF failure this bound fixed). K=2
    * means a reader must lag THREE whole saves to lose its directory,
    * and [[ArtifactLock.retryingLoad]] heals even that. These relations
    * are artifact-sized (a sketch, nCells centroids, a vocabulary), so
    * the extra kept generation is bytes, not data-scale. */
  private[graft] val KeepGenerations = 2L

  /** Best-effort cleanup AFTER a new generation's manifest published:
    * delete the named bases' generations older than `newGen -
    * keep` (the previous `keep` generations stay alive for readers that
    * resolved an older manifest around the publish). A crash between
    * publish and prune just leaves extra dirs for the next mutation's
    * prune. Also sweeps orphaned `.manifest.json.*.tmp` files a crashed
    * publish left behind (only ones old enough that no in-flight
    * publish from another JVM can still own them). */
  private[graft] def pruneGenerations(spark: SparkSession, path: String,
                                      bases: Seq[String], newGen: Long,
                                      keep: Long = KeepGenerations): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val pat = ("^(" + bases.mkString("|") + ")(?:-([0-9]+))?$").r
    // crash leftovers next to the manifest: orphaned publish temps and
    // takeover claims a crashed contender never deleted
    val tmpPat = "^(\\.manifest\\.json\\..*\\.tmp|\\.maintenance\\.lease\\.takeover\\..*)$".r
    val staleTmpMs = 60000L
    try {
      val now = System.currentTimeMillis()
      fs.listStatus(root).foreach { st =>
        st.getPath.getName match {
          case pat(_, g) if bases.nonEmpty =>
            val gen = Option(g).map(_.toLong).getOrElse(0L)
            if (gen < newGen - keep) fs.delete(st.getPath, true)
          case n if tmpPat.findFirstIn(n).isDefined &&
              now - st.getModificationTime > staleTmpMs =>
            fs.delete(st.getPath, false)
          case _ => ()
        }
      }
    } catch { case e: Exception =>
      // cleanup is best-effort (the new generation is already live) —
      // but a silently-swallowed auth/permission error repeating on
      // every save deserves a trace
      log.warn(s"generation prune at $path failed (kept going): $e")
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
}
