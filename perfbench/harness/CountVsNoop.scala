package perfbench

import graft.{Sessions, SparkEntry}

/** Times each named query through `count()` and through the full `noop`
  * sink, warm, alternating the two, and prints the minimum of `reps` of
  * each: the gap between what the older `count()` harnesses measured and
  * what this benchmark measures.
  *
  * Usage: CountVsNoop <fixtureDir> <cores> <reps> <query>...
  */
object CountVsNoop {
  def main(args: Array[String]): Unit = {
    val Array(dir, cores, reps) = args.take(3)
    val spark = Sessions.builder(s"local[$cores]", cores.toInt)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    args.drop(3).foreach { name =>
      def q = SparkEntry.queries(name)(spark, dir)
      def count(): Unit = q.count()
      def noop(): Unit = q.write.format("noop").mode("overwrite").save()
      try {
        noop(); count() // cold: fits, registry writes, codegen
        val ts = (1 to reps.toInt).map(_ => (time(count()), time(noop())))
        println(f"$name%-28s count ${ts.map(_._1).min}%.3f noop ${ts.map(_._2).min}%.3f")
      } catch { case e: Throwable => println(s"$name failed: $e") }
    }
    spark.stop()
  }
}
