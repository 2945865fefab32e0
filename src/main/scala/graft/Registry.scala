package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The fit-once registry — gordo's `builder/build_model.py::provide_saved_model`
  * plus `util/disk_registry.py` as one module:
  *   - [[memo]]: a process memo for fitted state, one fit per key;
  *   - [[path]]: on-disk artifact keys, always carrying the input table's
  *     content [[fingerprint]], so a regenerated fixture is never served
  *     an artifact fitted on the old data;
  *   - [[commit]]/[[artifact]]: gate a write on Spark's `_SUCCESS` commit
  *     marker, which a job writes last — a half-written artifact never
  *     counts as built.
  */
object Registry {

  /** Root for cross-run persisted artifacts: `GRAFT_REGISTRY_DIR`, else the
    * build's own target dir — NOT a shared world-writable /tmp, which
    * invites cross-user collision and artifact poisoning.
    */
  lazy val root: String = sys.env.getOrElse("GRAFT_REGISTRY_DIR", {
    // Anchor to the BUILD's target dir via the loaded class's code
    // source, NOT the process cwd: a launcher running Bench/Verify from
    // any other cwd would otherwise resolve a fresh empty registry every
    // run, silently re-paying every one-time fit. sbt `runMain` executes
    // a packaged jar under .../target/bg-jobs/sbt_<id>/.../target/... —
    // an ephemeral per-invocation dir that itself contains a `target`
    // component — so take the TOPMOST `target` ancestor: the build's own
    // target dir, stable across invocations and shared with tests.
    def local = new java.io.File("target/graft-registry").getAbsolutePath
    try {
      val loc = Registry.getClass.getProtectionDomain.getCodeSource.getLocation
      Iterator.iterate(java.nio.file.Paths.get(loc.toURI))(_.getParent)
        .takeWhile(_ != null)
        .filter(p => p.getFileName != null && p.getFileName.toString == "target")
        .toSeq.lastOption
        .fold(local)(_.resolve("graft-registry").toString)
    } catch { case _: Exception => local }
  })

  /** md5-hex of a config string (the DiskRegistry key scheme). */
  def key(config: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(config.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Content fingerprint of a table directory (names, sizes, mtimes). */
  def fingerprint(s: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stats =
      if (!fs.exists(p)) Array("absent")
      else fs.listStatus(p).sortBy(_.getPath.getName)
        .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
    key(stats.mkString("|"))
  }

  /** Disk path of the artifact `config` derives from the table at `input`:
    * `<root>/<kind>_<md5(config|fingerprint(input))>`, where `config`
    * starts with its `<kind>-v<N>` tag (bump N when the layout changes).
    */
  def path(s: SparkSession, config: String, input: String): String = {
    val tag = config.takeWhile(_ != '|')
    require(tag.matches("\\w+-v\\d+"), s"config '$config' must start with <kind>-v<N>|")
    s"$root/${tag.replaceFirst("-v\\d+$", "")}_${key(s"$config|${fingerprint(s, input)}")}"
  }

  /** True iff `out` is committed: a `_SUCCESS` marker under each of the
    * `parts` subdirectories, or under `out` itself when none are named.
    */
  def committed(s: SparkSession, out: String, parts: String*): Boolean = {
    val fs = new Path(out).getFileSystem(s.sparkContext.hadoopConfiguration)
    (if (parts.isEmpty) Seq(out) else parts.map(p => s"$out/$p"))
      .forall(d => fs.exists(new Path(d, "_SUCCESS")))
  }

  /** Make `out` committed: unless it already is, clear any uncommitted
    * leftover and run `write(out)`. Returns `out`.
    */
  def commit(s: SparkSession, out: String, parts: String*)(write: String => Unit): String = {
    if (!committed(s, out, parts: _*)) {
      val p = new Path(out)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      write(out)
    }
    out
  }

  /** The registry's front door: the committed artifact for (`config`,
    * `input`), written at most once per process and only when no
    * committed copy is on disk. Warm calls are a memo hit — no
    * fingerprint listing, no marker probe.
    */
  def artifact(s: SparkSession, config: String, input: String, parts: String*)(
      write: String => Unit): String =
    memo(config)(commit(s, path(s, config, input), parts: _*)(write))

  /** A fit evaluated at most once: concurrent callers of one key block on
    * its lock, and a fit that throws stays unevaluated.
    */
  private final class Once(fit: () => AnyRef) { lazy val value: AnyRef = fit() }

  private val memos = new java.util.concurrent.ConcurrentHashMap[String, Once]()
  private val lookupCount = new java.util.concurrent.atomic.AtomicLong()

  /** Memo calls so far in this process — a harness reads the delta around
    * one build to tell whether it reached the registry.
    */
  private[graft] def lookups: Long = lookupCount.get

  /** Process memo for deterministic fits: `fit` runs once per `key`. Sound
    * because every memoized fit is a pure function of its key (data dir +
    * fixed hyperparameters). Re-entrant: the map stores only the thunk and
    * the fit runs outside the map's bin lock, so a fit may itself call
    * `memo`. A fit that throws is dropped, and the next call retries it.
    */
  def memo[T <: AnyRef](key: String)(fit: => T): T = {
    lookupCount.incrementAndGet()
    val once = memos.computeIfAbsent(key, _ => new Once(() => fit))
    try once.value.asInstanceOf[T]
    catch { case e: Throwable => memos.remove(key, once); throw e }
  }
}
