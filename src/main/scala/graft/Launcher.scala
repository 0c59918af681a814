package graft

import org.apache.spark.sql.SparkSession

/** The code every main shares: `--flag value` parsing, the known-flag
  * check, the two session shapes (spark-submit and local), the wall timer
  * and the one-line JSON metrics writer.
  *
  * A launcher's `main` is `Launcher.submit(appName, args) { (spark, a) =>
  * fields }`: arguments are parsed before any Spark work, and the returned
  * fields are printed as ONE JSON line on stdout.
  */
object Launcher {
  /** `--flag value` pairs to a flag → value map (flag without its `--`). */
  private def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"arguments must be --flag value pairs, got: ${args.mkString(" ")}")
    args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case Array(k, v) => sys.error(s"expected a --flag, got '$k $v'")
    }.toMap
  }

  /** Fails on any flag outside `known`: a typo'd flag must never launch a
    * corpus-sized run with that setting's default.
    */
  def checkFlags(a: Map[String, String], known: Set[String]): Unit = {
    val unknown = a.keySet -- known
    require(unknown.isEmpty,
      s"unknown flag(s): ${unknown.toSeq.sorted.map("--" + _).mkString(", ")}; " +
        s"known: ${known.toSeq.sorted.map("--" + _).mkString(", ")}")
  }

  /** Runs a spark-submit launcher: parses `args`, opens the session
    * (master and executors come from spark-submit; the job sets only the
    * UTC session time zone), runs `body` and prints its fields as one JSON
    * line.
    */
  def submit(appName: String, args: Array[String])(
      body: (SparkSession, Map[String, String]) => Seq[(String, Any)]): Unit = {
    val a = parseArgs(args)
    val spark = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try println(jsonLine(body(spark, a)))
    finally spark.stop()
  }

  /** In-process session for the bench, verify and probe mains:
    * `local[cores]`, `cores` shuffle partitions, UTC, no UI, ERROR logging
    * and the graft SQL functions registered. A caller that needs another
    * value sets that conf on the returned session.
    */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-local-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** `body`'s result and its wall seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One JSON object on one line, fields in the given order. Strings are
    * escaped, doubles rounded half-up to 2 decimals; longs, ints and
    * booleans are written as they print.
    */
  def jsonLine(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    case n @ (_: Long | _: Int | _: Boolean) => n.toString
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }

  /** A JSON string literal: quote, backslash and every control character
    * (< 0x20) escaped — a tab in a path or in authored SQL would otherwise
    * make the consumer's JSON parse fail.
    */
  private def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
