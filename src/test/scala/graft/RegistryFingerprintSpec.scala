package graft

import org.apache.spark.sql.functions._

/** Cross-round registry staleness: every DISK-persisted artifact key must
  * include a content fingerprint of its source table, so a regenerated
  * fixture (new sizes/mtimes, same path) can never be served an artifact
  * fitted on the old data. Two rounds were lost to exactly that drift;
  * this pins the property on a tmp fixture that gets "regenerated"
  * in-place.
  */
class RegistryFingerprintSpec extends SparkSpec {
  import spark.implicits._

  test("regenerating a fixture in-place changes the compacted-copy registry path") {
    val dir = java.nio.file.Files.createTempDirectory("regen").toString
    def gen(n: Int): Unit =
      spark.range(n).select(col("id").as("event_id"),
          timestamp_micros(lit(1609459200000000L) + col("id") * 1000000L).as("ts"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    gen(10)
    val before = SparkEntry.compactRoot(spark, dir)
    Thread.sleep(5) // mtime tick — regeneration is never same-millisecond
    gen(12)
    val after = SparkEntry.compactRoot(spark, dir)
    assert(before != after,
      "compact registry key ignored the fixture regeneration — stale artifact risk")
  }

  /** Every main source file except Registry.scala, as (path, text). */
  private lazy val mainSources: Seq[(String, String)] = {
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.toSeq
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "Registry.scala")
        .map(p => p.toString -> new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8))
    } finally stream.close()
  }

  test("all disk-persisted registry keys embed a table fingerprint") {
    // Static tripwire. Registry.path is the one way to mint an artifact
    // key, and it fingerprints its input table itself; the ways to ship
    // a key WITHOUT one are a path built by hand under Registry.root or
    // a disk config hashed with Registry.key directly. (The in-memory
    // memo keys are process-scoped and exempt.)
    val registrySrc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Registry.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val pathDef = """(?s)def path\(.*?\n  \}""".r.findFirstIn(registrySrc)
    assert(pathDef.exists(_.contains("fingerprint(s, input)")),
      s"Registry.path must fingerprint its input: $pathDef")
    val keyConfig = """Registry\.key\(\s*s?"([^"]+)"""".r
    val offenders = mainSources.flatMap { case (file, src) =>
      src.linesIterator.filter(_.contains("Registry.root"))
        .map(l => s"$file: ${l.trim}") ++
      keyConfig.findAllMatchIn(src).map(_.group(1))
        .filterNot(_.contains("bucketed")) // bucketed tables are re-laid-out per process (in-memory catalog)
        .map(cfg => s"$file: $cfg")
    }
    assert(offenders.isEmpty,
      s"disk registry keys without a table fingerprint: $offenders")
  }

  test("registry root, keys and commit markers live only in Registry.scala") {
    val banned = Seq("registryKey(", "registryRoot", "graft-registry",
      "GRAFT_REGISTRY_DIR", "\"_SUCCESS\"")
    val offenders = for {
      (file, src) <- mainSources
      b <- banned if src.contains(b)
    } yield s"$file: $b"
    assert(offenders.isEmpty, s"registry logic outside graft.Registry: $offenders")
  }
}
