package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  /** Shuffle-exchange count in a plan string: node-name anchored on the
    * tree-art prefix so 'BroadcastExchange'/'ReusedExchange' (different
    * node names) and truncated arg lists can't skew the count. Shared by
    * every plan-shape assertion — the anchoring convention is subtle
    * enough that a second copy would drift. */
  protected def shuffles(plan: String): Int =
    "[+:]- Exchange ".r.findAllIn(plan).length

  /** Runs `body` under each expression factory with whole-stage codegen
    * off: NO_CODEGEN takes the interpreted projection (the expressions'
    * `eval`), CODEGEN_ONLY the generated one. */
  protected def underEachFactory(body: String => Unit): Unit = {
    val conf = spark.conf
    val saved = Seq("spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.codegen.wholeStage", "false")
      for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
        conf.set("spark.sql.codegen.factoryMode", mode)
        body(mode)
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Spark jobs started while `body` runs, counted by a listener after
    * the listener bus has delivered every event. */
  protected def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** Runs each selected registered query against `dir` through the noop
    * sink; returns "<name>: <root-cause>" per failure. Shared by the
    * robustness sweeps (EmptyCorpusSpec, DegenerateCorpusSpec) so both
    * report the ROOT exception, not Spark's stage-failure wrapper. */
  protected def sweepFailures(dir: String,
      pick: graft.queries.GraftQuery => Boolean): Seq[String] =
    graft.queries.GraftQuery.all.filter(pick).flatMap { q =>
      try {
        q.run(spark, dir).write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .toSeq.last
          Some(s"${q.name}: ${root.getClass.getSimpleName}: " +
            s"${Option(root.getMessage).getOrElse("").linesIterator.take(2).mkString(" | ")}")
      }
    }
}
