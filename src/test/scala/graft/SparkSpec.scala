package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object SparkSpec {
  lazy val session: SparkSession = graft.config.Sessions.local()
  val sfDir = "/root/testdata/sf0.001"

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
