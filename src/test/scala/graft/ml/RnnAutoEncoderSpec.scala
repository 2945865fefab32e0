package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RnnAutoEncoderSpec extends SparkSpec {
  import spark.implicits._

  private def sine(i: Int): Double = math.sin(2 * math.Pi * i / 24.0)

  private def ts(i: Int) =
    new java.sql.Timestamp(1704067200000L + i * 3600L * 1000L)

  private lazy val train = (0 until 400).map(i => (ts(i), sine(i)))
    .toDF("bucket", "v")

  // ---- the gold-standard evidence the BPTT is real: finite differences ----

  test("BPTT gradient matches central finite differences on every parameter") {
    val lo = RnnAutoEncoder.Layout(h = 3, d = 2)
    val lb = 3
    val rng = new java.util.SplittableRandom(7L)
    val theta = Array.fill(lo.nParams)(rng.nextDouble() * 0.8 - 0.4)
    val x = Array.fill(lb * lo.d)(rng.nextDouble() * 2.0 - 1.0)

    val (loss0, grad) = RnnAutoEncoder.lossAndGrad(theta, x, lo, lb)
    assert(loss0 > 0.0)

    val eps = 1e-6
    var maxRel = 0.0
    var k = 0
    while (k < lo.nParams) {
      val tp = theta.clone(); tp(k) += eps
      val tm = theta.clone(); tm(k) -= eps
      val (lp, _) = RnnAutoEncoder.lossAndGrad(tp, x, lo, lb)
      val (lm, _) = RnnAutoEncoder.lossAndGrad(tm, x, lo, lb)
      val fd = (lp - lm) / (2.0 * eps)
      // absolute floor: at |g| ~ 1e-5 the FD quotient's own roundoff
      // (~1e-10 absolute) dominates any genuine relative comparison
      val denom = math.max(1e-3, math.abs(fd) + math.abs(grad(k)))
      val rel = math.abs(fd - grad(k)) / denom
      if (rel > maxRel) maxRel = rel
      assert(rel < 1e-5,
        s"param $k: analytic=${grad(k)} fd=$fd rel=$rel (layout ${whichBlock(lo, k)})")
      k += 1
    }
    info(f"max relative gradient error across ${lo.nParams} params: $maxRel%.2e")
  }

  private def whichBlock(lo: RnnAutoEncoder.Layout, k: Int): String = {
    import lo._
    if (k < offWr) "Wz" else if (k < offWh) "Wr" else if (k < offUz) "Wh"
    else if (k < offUr) "Uz" else if (k < offUh) "Ur" else if (k < offbz) "Uh"
    else if (k < offbr) "bz" else if (k < offbh) "br" else if (k < offGz) "bh"
    else if (k < offGr) "Gz" else if (k < offGh) "Gr" else if (k < offcz) "Gh"
    else if (k < offcr) "cz" else if (k < offch) "cr" else if (k < offV) "ch"
    else if (k < offco) "V" else "co"
  }

  test("gradient aggregates over windows: accumulate sums per-window gradients") {
    val lo = RnnAutoEncoder.Layout(h = 2, d = 1)
    val lb = 3
    val rng = new java.util.SplittableRandom(11L)
    val theta = Array.fill(lo.nParams)(rng.nextDouble() * 0.6 - 0.3)
    val x1 = Array.fill(lb)(rng.nextDouble())
    val x2 = Array.fill(lb)(rng.nextDouble())
    val acc = new Array[Double](lo.nParams + 2)
    RnnAutoEncoder.accumulate(theta, x1, acc, lo, lb)
    RnnAutoEncoder.accumulate(theta, x2, acc, lo, lb)
    val (_, g1) = RnnAutoEncoder.lossAndGrad(theta, x1, lo, lb)
    val (_, g2) = RnnAutoEncoder.lossAndGrad(theta, x2, lo, lb)
    var k = 0
    while (k < lo.nParams) {
      assert(math.abs(acc(k) - (g1(k) + g2(k))) < 1e-12)
      k += 1
    }
    assert(acc(lo.nParams + 1) == 2.0)
  }

  // ---- training behaviour ----

  private lazy val fitted = RnnAutoEncoder.fitWithHistory(train, Seq("v"),
    lb = 4, orderCol = "bucket", hidden = 8, epochs = 30)

  test("distributed BPTT descent reduces the reconstruction loss") {
    val (_, losses) = fitted
    val head = losses.take(3).min
    val tail = losses.takeRight(3).min
    assert(tail < head * 0.7,
      s"loss must drop ≥30%: head=$head tail=$tail (${losses.head} → ${losses.last})")
  }

  test("same seed, same data → bit-identical model (partition-ordered merge)") {
    val a = RnnAutoEncoder.fit(train, Seq("v"), lb = 4, orderCol = "bucket",
      hidden = 4, epochs = 6)
    val b = RnnAutoEncoder.fit(train, Seq("v"), lb = 4, orderCol = "bucket",
      hidden = 4, epochs = 6)
    assert(a.theta.sameElements(b.theta))
    assert(a.threshold == b.threshold)
  }

  test("temporal separation: scrambled-order windows score higher than clean ones") {
    val (model, _) = fitted
    // Clean continuation vs the same VALUES with scrambled order inside
    // the stream: marginals identical, only temporal shape differs.
    val clean = (400 until 480).map(i => (ts(i), sine(i)))
    val perm = new scala.util.Random(5)
    val scrVals = perm.shuffle((480 until 560).map(sine).toVector)
    val scrambled = (480 until 560).zip(scrVals).map { case (i, v) => (ts(i), v) }
    val cleanScore = model.score(clean.toDF("bucket", "v"))
      .agg(avg("anomaly_score")).head().getDouble(0)
    val scrScore = model.score(scrambled.toDF("bucket", "v"))
      .agg(avg("anomaly_score")).head().getDouble(0)
    assert(scrScore > cleanScore * 2.0,
      s"sequence model must separate scrambled order: clean=$cleanScore scrambled=$scrScore")
  }

  test("save is atomic: no temp file is left, and a stale temp file never gates a load") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("gruae")
    val (model, _) = fitted
    val path = dir.resolve("gruae_a.txt")
    RnnAutoEncoder.save(model, path.toString)
    assert(Files.list(dir).toArray.toSeq == Seq(path), "save must leave only the model")
    assert(RnnAutoEncoder.load(path.toString).theta.sameElements(model.theta))
    // a save killed before its rename leaves only a temp sibling: that
    // is no model, so fitOrLoad must fit rather than load it
    val fresh = dir.resolve("gruae_b.txt")
    Files.writeString(dir.resolve("gruae_b.txt.12345.tmp"), "v\n4 bucket")
    val m = RnnAutoEncoder.fitOrLoad(fresh.toString, train, Seq("v"),
      lb = 4, hidden = 4, epochs = 2)
    assert(RnnAutoEncoder.load(fresh.toString).theta.sameElements(m.theta))
  }

  test("score carries base columns, threshold flags the tail") {
    val (model, _) = fitted
    val scored = model.score(train)
    assert(scored.columns.toSeq == Seq("bucket", "v", "anomaly_score", "anomalous"))
    val n = scored.count()
    assert(n == 400 - 3) // first lb−1 windows incomplete
    val flagged = scored.filter(col("anomalous")).count()
    // threshold is the 0.99 percentile of train scores — ~1% flagged
    assert(flagged <= math.ceil(n * 0.02).toLong)
  }
}
