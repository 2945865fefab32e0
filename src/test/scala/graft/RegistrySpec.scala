package graft

import java.nio.file.{Files, Path, Paths}

/** The registry's contract: a re-entrant fit-once memo, and an artifact
  * gate that only ever counts a committed write.
  */
class RegistrySpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val stream = Files.walk(root)
      try stream.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally stream.close()
    }

  test("a memo fit that makes 1000 nested memo calls returns, each inner fit once") {
    val id = java.util.UUID.randomUUID().toString
    val runs = new java.util.concurrent.atomic.AtomicIntegerArray(1000)
    def inner(i: Int): Integer = Registry.memo(s"nested|$id|$i") {
      runs.incrementAndGet(i)
      Integer.valueOf(i)
    }
    val total = Registry.memo(s"nested|$id|outer") {
      java.lang.Long.valueOf((0 until 1000).map(inner(_).longValue).sum)
    }
    assert(total.longValue == 999L * 1000L / 2)
    (0 until 1000).foreach(inner) // warm: no inner fit runs again
    assert((0 until 1000).forall(runs.get(_) == 1),
      s"inner fits ran ${(0 until 1000).map(runs.get).filter(_ != 1).distinct} times")
  }

  test("a fit that throws is not cached: the next call retries it") {
    val key = s"throws|${java.util.UUID.randomUUID()}"
    var calls = 0
    intercept[IllegalStateException] {
      Registry.memo[String](key) { calls += 1; throw new IllegalStateException("fit failed") }
    }
    assert(Registry.memo(key) { calls += 1; "fitted" } == "fitted")
    assert(Registry.memo(key) { calls += 1; "refitted" } == "fitted")
    assert(calls == 2)
  }

  test("a write that throws part-way leaves the artifact uncommitted; the next call rebuilds it") {
    val dir = tmp("registry-fault")
    spark.range(3).write.parquet(s"$dir/input.parquet")
    val config = s"faulty-v1|$dir"
    var attempts = 0
    def build(crash: Boolean): String =
      Registry.artifact(spark, config, s"$dir/input.parquet", "a", "b") { out =>
        attempts += 1
        spark.range(5).write.parquet(s"$out/a")
        if (crash) {
          Files.writeString(Paths.get(out, "partial.txt"), "half a component")
          throw new RuntimeException("killed between components")
        }
        spark.range(7).write.parquet(s"$out/b")
      }
    intercept[RuntimeException](build(crash = true))
    val out = Registry.path(spark, config, s"$dir/input.parquet")
    assert(Files.exists(Paths.get(out, "a", "_SUCCESS")), "the first component did commit")
    assert(!Registry.committed(spark, out, "a", "b"),
      "a half-written artifact must gate as absent")

    assert(build(crash = false) == out)
    assert(attempts == 2)
    assert(Registry.committed(spark, out, "a", "b"))
    assert(!Files.exists(Paths.get(out, "partial.txt")),
      "the rebuild must start from scratch, not over the crashed attempt's leftovers")
    assert(spark.read.parquet(s"$out/b").count() == 7)
    assert(build(crash = true) == out && attempts == 2, "a committed artifact is never rewritten")
    deleteRecursively(Paths.get(out))
  }

  test("a shingle index with meta/ committed but no docs/ gates as absent") {
    val dir = tmp("shidx-meta-only")
    Files.createDirectories(Paths.get(dir, "meta"))
    Files.createFile(Paths.get(dir, "meta", "_SUCCESS"))
    assert(!graft.ops.Dedup.shingleIndexExists(spark, dir))
    Files.createDirectories(Paths.get(dir, "docs"))
    Files.createFile(Paths.get(dir, "docs", "_SUCCESS"))
    assert(graft.ops.Dedup.shingleIndexExists(spark, dir))
  }

  test("cold memo + cold artifacts, shuffled order: registry queries match the warm dir") {
    val src = "/root/testdata/sf0.001"
    // a copy is a new dir key AND a new fingerprint: cold memo, cold disk
    val copy = Paths.get(tmp("registry-cold"))
    Files.walk(Paths.get(src)).forEach { p =>
      val to = copy.resolve(Paths.get(src).relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    val before = Option(new java.io.File(Registry.root).list()).fold(Set.empty[String])(_.toSet)
    val cold = try {
      val order = new scala.util.Random(20261017L).shuffle(SparkEntry.queries.keys.toSeq.sorted)
      order.flatMap { name =>
        val n0 = Registry.lookups
        val df = SparkEntry.queries(name)(spark, copy.toString)
        if (Registry.lookups > n0) Some(name -> df.collect().toSeq) else None
      }
    } finally {
      deleteRecursively(copy)
      // the copy's artifacts are keyed by its temp dir: never reused
      Option(new java.io.File(Registry.root).list()).toSeq.flatten
        .filterNot(before).filter(_ != "oracle_sql")
        .foreach(n => deleteRecursively(Paths.get(Registry.root, n)))
    }
    val reached = cold.map(_._1).toSet
    assert(Set("dedup_clusters", "dedup_minhash_lsh", "simsearch_recall_audit",
      "graph_pagerank").subsetOf(reached), s"reached the registry: $reached")
    val diverged = cold.collect {
      case (name, r) if r != SparkEntry.queries(name)(spark, src).collect().toSeq => name
    }
    assert(diverged.isEmpty, s"cold results differ from the warm dir's: $diverged")
    info(s"${reached.size} registry queries ran cold in shuffled order")
  }
}
