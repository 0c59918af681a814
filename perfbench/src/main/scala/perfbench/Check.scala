package perfbench

import java.io.File

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.io.Source
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import graft.core._
import graft.pipeline.{ExtractJob, Turn, TurnOut}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Order-independent digest of a row multiset: count plus two sums of
  * independent 64-bit row hashes (wrapping), so it can be summed per
  * partition and merged.
  */
final case class Digest(n: Long, h1: Long, h2: Long) {
  def +(o: Digest): Digest = Digest(n + o.n, h1 + o.h1, h2 + o.h2)
}
object Digest {
  val empty: Digest = Digest(0, 0, 0)
}

/** 64-bit row hashing with a seed, field by field. */
final class RowHash(seed: Long) {
  private var h = seed
  private def mix(x: Long): Unit = {
    var z = h ^ x
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    h = z ^ (z >>> 33)
  }
  def long(x: Long): RowHash = { mix(x); this }
  def str(s: String): RowHash = {
    if (s == null) mix(0x6e756c6cL)
    else {
      mix(s.length.toLong)
      var i = 0
      while (i + 3 < s.length) {
        mix((s.charAt(i).toLong << 48) | (s.charAt(i + 1).toLong << 32) |
          (s.charAt(i + 2).toLong << 16) | s.charAt(i + 3).toLong)
        i += 4
      }
      while (i < s.length) { mix(s.charAt(i).toLong); i += 1 }
    }
    this
  }
  def value: Long = h
}

/** The correctness checks the benchmark runs in the same command. */
object Check {
  private val Seed1 = 0x1234567L
  private val Seed2 = 0x7654321L

  /** Hashes of one extracted turn, over every `TurnOut` field. */
  def turnHash(seed: Long, convId: String, turnIdx: Int, role: String, tool: String,
               tsMs: Long, plain: String, html: String, offsets: Iterator[Long],
               nTags: Int, nChars: Int, err: String): Long = {
    val h = new RowHash(seed).str(convId).long(turnIdx).str(role).str(tool).long(tsMs)
      .str(plain).str(html)
    var n = 0L
    offsets.foreach { o => h.long(o); n += 1 }
    h.long(n).long(nTags).long(nChars).str(err).value
  }

  private def outHash(seed: Long, o: TurnOut): Long =
    turnHash(seed, o.conv_id, o.turn_idx, o.role, o.tool, o.ts.getTime, o.plain_text, o.html,
      o.offsets.iterator, o.n_tags, o.n_chars, o.parse_error)

  private def rowHash(seed: Long, r: Row): Long =
    turnHash(seed, r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
      r.getTimestamp(4).getTime, r.getString(5), r.getString(6),
      r.getSeq[Long](7).iterator, r.getInt(8), r.getInt(9), r.getString(10))

  private def key(convId: String, turnIdx: Int): String = s"$convId\u0000$turnIdx"

  /** The expected output of extraction, computed by `ExtractJob.extractTurn`
    * outside Spark on `threads` threads: the digest, and a per-row hash
    * map (key → hash) built only when `keyed`.
    */
  def reference(rows: Long, turnAt: Long => Turn, markup: ExtractJob.Markup, threads: Int,
                keyed: Boolean): (Digest, Map[String, Long]) = {
    val cfg = ExtractJob.defaultCfg(markup)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val chunk = (rows + threads - 1) / threads
    val parts = (0 until threads).map { t =>
      Future {
        var d = Digest.empty
        val m = Map.newBuilder[String, Long]
        var g = t * chunk
        while (g < math.min(rows, (t + 1) * chunk)) {
          val o = ExtractJob.extractTurn(turnAt(g), cfg, markup)
          val h1 = outHash(Seed1, o)
          d = d + Digest(1, h1, outHash(Seed2, o))
          if (keyed) m += key(o.conv_id, o.turn_idx) -> h1
          g += 1
        }
        (d, m.result())
      }
    }
    val done = Await.result(Future.sequence(parts), Duration.Inf)
    (done.map(_._1).reduce(_ + _), done.flatMap(_._2).toMap)
  }

  /** Outcome of checking one committed output against the reference. */
  final case class Outcome(attempted: Long, failed: Long, detail: String)

  private val TurnOutCols = Seq("conv_id", "turn_idx", "role", "tool", "ts", "plain_text",
    "html", "offsets", "n_tags", "n_chars", "parse_error")

  /** Checks a `runResumable` output tree: every `bucket=N` directory must
    * carry its `_COMMITTED` marker and hold only rows whose conversation
    * hashes to N; every input turn must appear exactly once, equal to
    * `extractTurn` outside Spark, with no `parse_error`. Rows in an
    * unmarked or wrong bucket, rows with `parse_error`, and missing,
    * duplicated or differing rows all count as failed.
    */
  def extractOutput(spark: SparkSession, outDir: String, buckets: Int, rows: Long,
                    ref: Digest, keyedRef: => Map[String, Long]): Outcome = {
    val path = new Path(outDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = if (fs.exists(path)) fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket=")).map(_.getPath)
      else Nil
    val marked = dirs.filter(d => fs.exists(new Path(d, "_COMMITTED")))
      .map(_.getName.stripPrefix("bucket=").toInt)
    if (dirs.isEmpty) return Outcome(rows, rows, "no bucket directories")
    val df = spark.read.parquet(outDir)
    val good = col("bucket").isin(marked: _*) &&
      col("bucket") === pmod(hash(col("conv_id")), lit(buckets)) && col("parse_error").isNull
    val tagged = df.select(TurnOutCols.map(col) :+ good.as("__good"): _*)
    val parts = tagged.rdd.mapPartitions { it =>
      var d = Digest.empty
      var bad = 0L
      it.foreach { r =>
        if (r.getBoolean(11)) d = d + Digest(1, rowHash(Seed1, r), rowHash(Seed2, r))
        else bad += 1
      }
      Iterator.single((d, bad))
    }.collect()
    val got = parts.map(_._1).foldLeft(Digest.empty)(_ + _)
    val bad = parts.map(_._2).sum
    if (bad == 0 && got == ref) return Outcome(rows, 0, "ok")

    // mismatch: count the failing rows one by one. A reference turn fails
    // unless exactly one copy of it is present, good and equal; a row the
    // reference does not know fails as itself.
    val want = keyedRef
    val copies = tagged.rdd
      .map(r => (key(r.getString(0), r.getInt(1)), (rowHash(Seed1, r), r.getBoolean(11))))
      .collect().groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val missing = want.keysIterator.count(k => !copies.contains(k)).toLong
    val failedPresent = copies.iterator.map { case (k, cs) =>
      want.get(k) match {
        case None => cs.length.toLong
        case Some(h) =>
          val matched = if (cs.contains((h, true))) 1 else 0
          if (cs.length == 1 && matched == 1) 0L else math.max(1L, cs.length - matched).toLong
      }
    }.sum
    Outcome(rows, math.min(rows, missing + failedPresent),
      s"missing=$missing failed_present=$failedPresent unmarked_misplaced_or_error=$bad")
  }

  /** Checks a `DedupMain.run` output: the `_COMMITTED` marker is present
    * and the survivors are exactly the ground-truth ids, each once, with
    * its original text.
    */
  def dedupOutput(spark: SparkSession, outDir: String, corpus: Gen.Corpus): Outcome = {
    val rows = corpus.docs.length.toLong
    val path = new Path(outDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path, "_COMMITTED"))) return Outcome(rows, rows, "no commit marker")
    val textOf = corpus.docs.toMap
    val got = spark.read.parquet(outDir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ids = got.groupBy(_._1)
    val missing = corpus.survivors.count(id => !ids.contains(id)).toLong
    val extra = ids.iterator.map { case (id, rs) =>
      if (!corpus.survivors(id)) rs.length.toLong
      else (rs.length - 1).toLong + (if (rs.head._2 == textOf(id)) 0 else 1)
    }.sum
    Outcome(rows, missing + extra, s"survivors=${got.length} missing=$missing extra_or_differing=$extra")
  }

  // ---- graft.core against the reference goldens ----

  private val mapper = new ObjectMapper()

  private def fixtureConfig(name: String): Map[String, TagAttributes] = name match {
    case "canonical" => TagAttributes.bbcodeCanonical
    case "nobr" =>
      TagAttributes.bbcodeCanonical ++ Map(
        "code" -> TagAttributes(false, true, false, false),
        "noparse" -> TagAttributes(false, true, false, false))
    case _ => Map.empty
  }

  /** Runs `graft.core` over the reference-generated goldens under
    * `resources` (oracle_fixtures.jsonl and htmlgolden/) and returns
    * (checked, failed). Each fixture compares the document tree, strip,
    * escape and escape offsets; each HTML golden the full serialized tree.
    */
  def goldens(resources: File): (Int, Int) = {
    var n = 0
    var failed = 0
    val src = Source.fromFile(new File(resources, "oracle_fixtures.jsonl"), "UTF-8")
    try src.getLines().filter(_.nonEmpty).foreach { line =>
      val fx = mapper.readTree(line)
      if (!fx.has("error")) {
        n += 1
        val attrs = fixtureConfig(fx.get("config").asText)
        val input = fx.get("input").asText
        def parse(): Doc =
          if (fx.get("parser").asText == "html") HtmlParser.parse(input, attrs)
          else BBCodeParser.parse(input, attrs)
        val ok = try {
          val doc = parse()
          val offsets = new Offsets
          val escaped = Transform.textTransform(parse(), fn = Transform.htmlEscape(offsets, attrs))
          val expOff = fx.get("escapeOffsets").elements.asScala
            .map(p => (p.get(0).asInt, p.get(1).asInt)).toList
          mapper.readTree(DocJson.doc(doc)) == fx.get("doc") &&
            Transform.textTransform(doc) == fx.get("strip").asText &&
            escaped == fx.get("escape").asText &&
            offsets.pairs == expOff && offsets.total == fx.get("escapeTotal").asInt
        } catch { case _: Exception => false }
        if (!ok) failed += 1
      }
    } finally src.close()
    if (n < 8304) failed += 8304 - n // a truncated fixture file must not pass
    for (page <- Seq("custom", "github.com", "svg")) {
      n += 1
      def read(name: String): String = {
        val s = Source.fromFile(new File(resources, s"htmlgolden/$name"), "UTF-8")
        try s.mkString finally s.close()
      }
      val ok = try {
        refJson(HtmlParser.parse(read(s"$page.html"), Map.empty)) == mapper.readTree(read(s"$page.json"))
      } catch { case _: Exception => false }
      if (!ok) failed += 1
    }
    (n, failed)
  }

  /** A Doc in the reference's serialized shape (node spans, names,
    * attributes, children, both offset sets).
    */
  private def refJson(doc: Doc): JsonNode = {
    val nf = JsonNodeFactory.instance
    def nodeJson(n: Node): JsonNode = n match {
      case t: TextNode =>
        val o = nf.objectNode()
        o.put("begin", t.begin); o.put("end", t.end); o.put("body", t.body)
        o
      case t: TagNode =>
        val o = nf.objectNode()
        o.put("begin", t.begin); o.put("end", t.end)
        o.put("nameEnd", t.nameEnd)
        o.put("bodyBegin", t.bodyBegin); o.put("bodyEnd", t.bodyEnd)
        if (t.name == null) o.putNull("name") else o.put("name", t.name)
        if (t.attribute == null) o.putNull("attribute") else o.put("attribute", t.attribute)
        val attrs = nf.objectNode()
        t.attributes.foreach { case (k, v) => attrs.put(k, v) }
        o.set[ObjectNode]("attributes", attrs)
        val kids = nf.arrayNode()
        t.children.foreach(c => kids.add(nodeJson(c)))
        o.set[ObjectNode]("children", kids)
        o
    }
    def offsetArr(set: OffsetSet): JsonNode = {
      val arr = nf.arrayNode()
      set.foreachPair { (a, b) =>
        val p = nf.objectNode(); p.put("first", a); p.put("second", b); arr.add(p)
      }
      arr
    }
    val o = nf.objectNode()
    o.put("begin", 0); o.put("end", doc.source.length)
    o.set[ObjectNode]("offsets", offsetArr(doc.offsets))
    o.set[ObjectNode]("attributeOffsets", offsetArr(doc.attributeOffsets))
    val kids = nf.arrayNode()
    doc.children.foreach(c => kids.add(nodeJson(c)))
    o.set[ObjectNode]("children", kids)
    o
  }
}
