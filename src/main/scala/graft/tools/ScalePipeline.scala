package graft.tools

import graft.etl.{Pipeline, StarLoader}

/** Pipeline-at-volume harness: synthesizes an N-row wide survey
  * ([[SyntheticSurvey]]: distributed, no driver loops) against a
  * 50k-entity registry, runs the full identification + star load, and
  * reports wall times. Usage:
  * `sbt "runMain graft.tools.ScalePipeline [nRows] [dense|scalable]"`
  * (id strategy defaults to scalable — the at-volume setting). The
  * config is read from the classpath fixtures (`src/main/resources`),
  * so run it through sbt, or put that directory on the classpath.
  */
object ScalePipeline {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val idStrategy: StarLoader.IdStrategy =
      if (args.lift(1).contains("dense")) StarLoader.DenseIds
      else StarLoader.ScalableIds
    val spark = graft.Sessions.local()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        val secs = (info.completionTime.getOrElse(0L) - info.submissionTime.getOrElse(0L)) / 1000.0
        if (secs > 1.0)
          println(f"[stage] ${info.stageId}%4d ${secs}%7.1f s  tasks=${info.numTasks}  ${info.name.take(90)}")
      }
    })

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label%-26s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }

    val survey = SyntheticSurvey.survey(spark, n)
    val registry = SyntheticSurvey.registry(spark)
    val config = SyntheticSurvey.config

    val result = time("pipeline.run (lazy)")(Pipeline.run(survey, registry, config, 2026))
    val counts = time("identification + splits")(
      (time("  valid.count")(result.valid.count()),
       time("  duplicates.count")(result.duplicates.count()),
       time("  unmatched.count")(result.unmatched.count()),
       time("  badName.count")(result.badName.count())))
    println(s"[scale] valid=${counts._1} dup=${counts._2} unmatched=${counts._3} bad=${counts._4} " +
      s"(sum=${counts._1 + counts._2 + counts._3 + counts._4} of $n)")

    val star = time("star load (lazy)")(
      StarLoader.load(result, idStrategy = idStrategy))
    val fact = time("star load: fato counts")(
      (time("  inquerito")(star.fatoInquerito.count()),
       time("  formacao")(star.fatoFormacao.count()),
       time("  interesse")(star.fatoInteresse.count()),
       time("  disp")(star.fatoDisponibilidade.count()),
       time("  comentario")(star.comentario.count())))
    println(s"[scale] inquerito=${fact._1} formacao=${fact._2} interesse=${fact._3} " +
      s"disp=${fact._4} comentario=${fact._5}")
    spark.stop()
  }
}
