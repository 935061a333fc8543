package graft

/** Captures what an object's logger writes at INFO while a block runs. */
object LogCapture {

  /** `f`'s value and the INFO messages `cls`'s logger wrote while it ran. */
  def info[T](cls: Class[_])(f: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val logger = LogManager.getLogger(cls.getName).asInstanceOf[Logger]
    val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("log-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        msgs.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    // addAppender refreshes the logger's config, so the level goes after it
    logger.addAppender(app)
    val level = logger.getLevel
    logger.setLevel(Level.INFO)
    try { val v = f; (v, msgs.asScala.toSeq) }
    finally { logger.removeAppender(app); logger.setLevel(level); app.stop() }
  }
}
