package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (one JVM-wide session, tests reuse it). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    gf.registerAll(s)
    s
  }
}

/** Log4j events of named loggers, captured while a body runs. */
object LogCapture {

  /** Run `body` with `names`' loggers at INFO and return its result with
    * the messages they logged meanwhile.
    */
  def logged[T](names: String*)(body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-log-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val loggers = names.map(n => LogManager.getLogger(n).asInstanceOf[Logger])
    // appenders first: adding one to a logger without its own config
    // rebuilds every logger's config, which resets a level set before
    loggers.foreach(_.addAppender(appender))
    loggers.foreach(_.setLevel(Level.INFO))
    try (body, seen.toArray(Array.empty[String]).toSeq)
    finally {
      loggers.foreach { l => l.removeAppender(appender); l.setLevel(null) }
      appender.stop()
    }
  }
}

/** The engine's driver row limit, set for the session while a body runs. */
object DriverRowLimit {

  /** Run `body` with [[graft.core.DriverRows.LimitKey]] at `limit`, then
    * unset it.
    */
  def apply[T](limit: Long)(body: => T): T = {
    val conf = SparkTestBase.spark.conf
    conf.set(graft.core.DriverRows.LimitKey, limit.toString)
    try body finally conf.unset(graft.core.DriverRows.LimitKey)
  }
}
