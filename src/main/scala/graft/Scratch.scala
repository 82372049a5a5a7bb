package graft

/** Temp-dir discipline for queries that must touch disk (format
  * round-trips, streaming checkpoints): every directory created here is
  * removed, at the latest at JVM exit, so repeated executions inside one
  * session (Bench runs each query 3–5 times) cannot leak corpus copies or
  * checkpoint state past the process.
  */
object Scratch {
  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** A fresh temp dir, deleted at JVM exit. Use for streaming CHECKPOINTS,
    * which must never be reused across query starts (a restarted query
    * would resume the previous run's state store).
    */
  def ephemeral(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(p.toFile)))
    p.toString
  }

  /** A fresh temp dir for the duration of `body`, deleted when `body`
    * returns or throws. Use for the checkpoint of a streaming query that
    * stops inside `body`, or a sink whose rows `body` reads back eagerly:
    * nothing reads it afterwards, and an [[ephemeral]] dir would keep one
    * directory and one shutdown hook per run until JVM exit.
    */
  def scoped[A](prefix: String)(body: String => A): A = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    try body(p.toString) finally deleteRecursively(p.toFile)
  }

  private val fixed = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** ONE temp dir per key per JVM, reused across calls and deleted at
    * exit. Use for overwrite-mode data writes (all [[sources.Formats]]
    * sinks overwrite), where re-execution should replace the previous
    * copy in place instead of leaking a new one.
    */
  def perJvm(prefix: String): String =
    fixed.computeIfAbsent(prefix, _ => ephemeral(prefix))
}
