package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs one call runs, counted by a SparkListener per job
  * group — the probe of [[ServeJobsSpec]] and [[TickJobsSpec]]. */
object JobsOf {

  /** (job description, stage names) of one job. A stage's name carries
    * the engine frame that planned it when the name is only a
    * thread-pool frame (broadcasts, adaptive stages), and the Spark API
    * frame it was launched from (a read's `DataFrameReader.parquet` and
    * a write's `DataFrameWriter.parquet` share the name `parquet at …`). */
  type Job = (String, Seq[String])

  private final class Listener extends SparkListener {
    val byGroup = new ConcurrentHashMap[String, Vector[Job]]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val job = (prop("spark.job.description").getOrElse(""), e.stageInfos.map(st =>
        st.name + st.details.linesIterator.find(_.contains("graft.operators"))
          .fold("")(" via " + _.trim) +
          st.details.linesIterator.take(1).map(" from " + _.trim).mkString))
      byGroup.merge(prop("spark.jobGroup.id").getOrElse("-"), Vector(job), _ ++ _)
    }
  }

  /** The jobs `body` ran under job group `group`, in start order. A
    * sentinel job in its own group follows it; the listener bus
    * delivers in order, so once the sentinel is seen every job of the
    * call has been counted. */
  def apply[T](spark: SparkSession, group: String)(body: => T): (T, Vector[Job]) = {
    val sc = spark.sparkContext
    val jobs = new Listener
    sc.addSparkListener(jobs)
    try {
      sc.setJobGroup(group, group)
      val out = body
      sc.setJobGroup(s"$group.sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000L
      while (!jobs.byGroup.containsKey(s"$group.sentinel")) {
        assert(System.currentTimeMillis() < deadline, "listener never saw the sentinel job")
        Thread.sleep(10)
      }
      (out, jobs.byGroup.getOrDefault(group, Vector.empty))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(jobs)
    }
  }

  /** The leaf-file listing and parquet schema-inference jobs among
    * `jobs` — both are launched from inside `DataFrameReader.parquet`,
    * so their stages are named `parquet at …` and carry its frame. */
  def planning(jobs: Vector[Job]): Vector[Job] = jobs.filter { case (desc, stages) =>
    desc.contains("Listing leaf files") ||
      stages.exists(s => s.startsWith("parquet at ") && s.contains("DataFrameReader"))
  }
}
