package org.apache.spark.scheduler

/** Spec access to which kind of stage a listener event describes
  * (StageInfo.shuffleDepId is private[spark]). */
object StageKinds {
  /** A job whose final stage is a result stage: AQE runs each
    * exchange's map stage as a job of its own, carrying only
    * shuffle-map stages. */
  def resultJob(e: SparkListenerJobStart): Boolean =
    e.stageInfos.exists(_.shuffleDepId.isEmpty)
}
