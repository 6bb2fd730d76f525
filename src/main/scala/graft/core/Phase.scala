package graft.core

import org.apache.spark.SparkContext

/** Tags the Spark jobs of one pipeline step with the step's name.
  *
  * Sets the thread-local job property [[Key]] (and the job description,
  * which the Spark UI shows) for the duration of a block, and restores the
  * previous values on exit, also when the block throws. Spark copies a
  * thread's local properties into every job the thread submits, and into
  * the threads that run AQE query stages and broadcasts, so a listener's
  * `onJobStart` reads the step of every job, map-stage jobs included.
  * The block must cover the step's plan construction as well as its
  * actions: a `localCheckpoint(eager = false)` runs its upstream stages
  * when it is declared.
  */
object Phase {

  /** The job property that carries the phase name. */
  val Key = "graft.phase"
  private val Description = "spark.job.description"

  /** Runs `body` with its jobs tagged `name`, described by `description`
    * (the name itself by default). */
  def apply[T](sc: SparkContext, name: String, description: String = null)
              (body: => T): T = {
    val prevPhase = sc.getLocalProperty(Key)
    val prevDesc = sc.getLocalProperty(Description)
    sc.setLocalProperty(Key, name)
    sc.setJobDescription(Option(description).getOrElse(name))
    try body
    finally {
      sc.setLocalProperty(Key, prevPhase)
      sc.setJobDescription(prevDesc)
    }
  }
}
