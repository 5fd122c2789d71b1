package perfbench

/** The training run behind the class-data-sharing archive that
  * `perfbench/run.py` makes after each build: it loads the classes the
  * runs load, so later runs map them from the archive instead of loading
  * and verifying them again. One session with tracing on, then each
  * named workload's load, warm-up, one pass, end and checks on training
  * inputs. Nothing is measured.
  *
  * Usage: Train <workDir> (<workload> <dataDir>)...
  */
object Train {
  def main(args: Array[String]): Unit = {
    val workDir = args.head
    val spark = Main.session(workDir, Runtime.getRuntime.availableProcessors())
    val rec = new Recorder(spark)
    rec.startTracing()
    args.tail.grouped(2).foreach { case Array(name, dataDir) =>
      val w = Workload(name, spark, rec)
      w.prepare(dataDir)
      w.warmup()
      w.beforePass()
      w.pass(0)
      w.finish()
      val errors = w.verify(s"$workDir/check-$name")
      if (errors.nonEmpty) throw new IllegalStateException(s"$name: ${errors.mkString("; ")}")
    }
    rec.stopTracing()
    spark.stop()
  }
}
