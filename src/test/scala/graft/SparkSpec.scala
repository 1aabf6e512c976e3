package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object SparkSpec {
  lazy val session: SparkSession = graft.config.Sessions.local()
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs submitted from this thread while `body` runs. Job
    * starts reach listeners asynchronously but in order, so a sentinel
    * job run after `body` is seen only once every job before it is. */
  def jobsDuring(body: => Unit): Int = {
    val sc = session.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            if (g == "spark-spec-sentinel") sentinelSeen.countDown() else groups.add(g)
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("spark-spec-probe", "probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("spark-spec-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
      groups.toArray.count(_ == "spark-spec-probe")
    } finally sc.removeSparkListener(listener)
  }

  private val worlds = scala.collection.mutable.Map.empty[String, String]

  /** The adversarial world `name` over [[sfDir]], written once per run
    * by [[graft.tools.Worlds.write]] into a temp dir that is removed
    * when the JVM exits. */
  def world(name: String): String = synchronized {
    worlds.getOrElseUpdate(name, {
      val root = java.nio.file.Files.createTempDirectory(s"graft_${name}world")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
          f.delete(); ()
        }
        rm(root.toFile)
      }))
      graft.tools.Worlds.write(session, name, sfDir, root.toString)
      root.toString
    })
  }
}
