package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Optimization-round tool: dump `.explain("formatted")` for named queries
  * to `<outDir>/<name>_<tag>.txt` (the judge checks plan claims against the
  * committed files — plans/r13/). Usage:
  *
  *   runMain graft.PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  *
  * With no query list every declared query is dumped. Plans are built with
  * the same session geometry as Bench (local[$SPARK_GRAFT_CPUS], shuffle
  * partitions = cpus) so the dumped shape is the benched shape. Every dump
  * is [[normalize]]d, so dumps of one plan from two runs diff cleanly.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag) = args.take(3)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), normalize(plan))
          println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }

  private val Renumbered = Seq("""#(\d+)""".r, """\[plan_id=(\d+)\]""".r,
    """\w*RDD\[(\d+)\]""".r)
  private val Dropped = Seq(
    """(?<=RDD\[\d{1,9}\] at \w{1,64}) at [^\s,\]]+:\d+""".r, // creation site
    """(?<=[\w$;\[])@[0-9a-f]+\b""".r, // identity hash of an array or closure
    """(?<=Lambda)\$\d+/0x[0-9a-f]+""".r, // lambda class number
    """(?<=/[\w.-]{0,200}[A-Za-z_])\d{6,}(?=[/\],\s]|$)""".r) // temp-dir suffix

  /** The parts of a formatted plan that change from run to run, made
    * stable: expression ids (`#123`), plan ids and RDD ids are renumbered
    * in order of first appearance; an RDD's creation site, identity hashes,
    * lambda class numbers and the random suffix of a temp directory are
    * dropped. Two dumps of one plan are then equal, while a changed plan
    * still differs. */
  def normalize(plan: String): String = {
    val renumbered = Renumbered.foldLeft(plan) { (s, re) =>
      val seen = scala.collection.mutable.HashMap.empty[String, Int]
      re.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(
        m.matched.replace(m.group(1), seen.getOrElseUpdate(m.group(1), seen.size + 1).toString)))
    }
    Dropped.foldLeft(renumbered)((s, re) => re.replaceAllIn(s, ""))
  }
}
