package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Run `body` on a temp copy of the fixture dir `src`. A copy is a new
    * dir key AND a new table fingerprint, so every memo and registry
    * artifact starts cold. The copy and the registry artifacts created
    * meanwhile (keyed by the copy: never reused) are deleted afterwards.
    */
  protected def onColdCopy[T](src: String)(body: String => T): T = {
    val from = Paths.get(src)
    val copy = Files.createTempDirectory("cold-copy")
    Files.walk(from).forEach { p =>
      val to = copy.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    def entries = Option(new java.io.File(Registry.root).list()).fold(Set.empty[String])(_.toSet)
    val before = entries
    try body(copy.toString)
    finally {
      SparkSpec.deleteRecursively(copy)
      (entries -- before).foreach(n => SparkSpec.deleteRecursively(Paths.get(Registry.root, n)))
    }
  }
}

object SparkSpec {
  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val stream = Files.walk(root)
      try stream.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally stream.close()
    }

  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", // static conf — must be set here
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      // static conf, same value as Sessions.builder: the codegen-cache
      // tripwire in PlanAuditSpec asserts repeat executions recompile
      // nothing, which needs the deployment-sized cache
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // mirror the deployment session (Sessions.builder applies
    // GraftExtensions): native SQL functions + the geo-radius rewrite
    // rule, so ContractSpec/PlanAuditSpec analyze the same plans the
    // driver runs. getOrCreate can't apply withExtensions to an
    // already-built session, hence the imperative route.
    org.apache.spark.sql.graft.Bridge.registerFunctions(s)
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations :+ graft.plans.GeoRadiusJoinRule()
    s
  }
}
