package valbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Input sizes, chosen so one operation takes two seconds at most on four
  * cores, a run holds several of them, and generating a fresh seed takes a
  * few seconds. Every 997th conversation is a hot one, so each table file
  * (2991 conversations) holds exactly three and each landing file exactly
  * one, whatever the seed. */
object Sizes {
  val tableConvs = 12 * 997 // about 79k turns
  val tableFiles = 4
  val docs = 16000
  val docFiles = 8
  val files = 60            // landing files
  val convsPerFile = 997    // about 6.5k turns per landing file
  val warmFiles = 2         // landing files the warm-up stream reads
}

/** Where the inputs of one (workload, seed) live, keyed by generator
  * version. `truth.json` and the `truth/` parquet files are the ground-truth
  * sidecar: the benchmark's checker reads them; the library never does. */
final class Inputs(work: Path, val workload: String, val seed: Long) {
  val dir: Path = work.resolve(s"data/g${Gen.version}-s$seed/$workload")
  def path(name: String): String = dir.resolve(name).toString
  def done: Boolean = Files.exists(dir.resolve("_DONE"))

  lazy val truth: JsonNode = new ObjectMapper().readTree(dir.resolve("truth.json").toFile)

  /** Parquet files under `sub`, in name order (the landing order). */
  def files(sub: String): Seq[String] = {
    val s = Files.list(dir.resolve(sub))
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  def bytes(sub: String): Long = files(sub).map(f => Files.size(Paths.get(f))).sum
}

/** Writes the inputs with parquet-hadoop directly: generation runs no Spark
  * job, so it neither warms up nor loads the engine it feeds. */
object Inputs {

  private val turnType = MessageTypeParser.parseMessageType(
    """message turn {
      optional binary conv_id (STRING); optional int32 turn_idx; optional binary role (STRING);
      optional binary text (STRING); optional binary tool (STRING);
      optional int64 ts (TIMESTAMP(MICROS,true)); optional int32 part_id; }""")
  private val turnTruthType = MessageTypeParser.parseMessageType(
    """message turn_truth {
      optional binary conv_id (STRING); optional int32 turn_idx; optional int32 part_id;
      optional int32 file_idx; optional boolean f_role; optional boolean f_text;
      optional boolean f_tool; optional boolean late; optional boolean dup; optional boolean hot; }""")
  private val docType = MessageTypeParser.parseMessageType(
    """message doc { optional int64 doc_id; optional binary tool (STRING); optional binary args (STRING); }""")
  private val docTruthType = MessageTypeParser.parseMessageType(
    """message doc_truth {
      optional int64 doc_id; optional binary tool (STRING); optional boolean exp_pass;
      optional int32 exp_viol; optional binary exp_kinds (STRING); optional boolean malformed; }""")

  /** Small row groups, so every file has several. */
  private val rowGroupBytes = 256L << 10

  /** A parquet file of `t` rows, filled by `f` through a row-adding callback. */
  private def using(path: String, t: MessageType)(f: ((Group => Unit) => Unit) => Unit): Unit = {
    val w: ParquetWriter[Group] = ExampleParquetWriter.builder(new HPath(path)).withType(t)
      .withConf(new Configuration()).withRowGroupSize(rowGroupBytes).withPageSize(64 << 10)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val g = new SimpleGroupFactory(t)
    try f(fill => { val r = g.newGroup(); fill(r); w.write(r) }) finally w.close()
  }

  private def writeTurn(r: Group, t: Turn): Unit = {
    r.add("conv_id", t.convId); r.add("turn_idx", t.turnIdx); r.add("role", t.role)
    r.add("text", t.text)
    if (t.tool != null) r.add("tool", t.tool)
    r.add("ts", t.tsMs * 1000L); r.add("part_id", t.part)
  }

  private def writeTurnTruth(r: Group, t: Turn, file: Int): Unit = {
    r.add("conv_id", t.convId); r.add("turn_idx", t.turnIdx); r.add("part_id", t.part)
    r.add("file_idx", file); r.add("f_role", t.fRole); r.add("f_text", t.fText)
    r.add("f_tool", t.fTool); r.add("late", t.late); r.add("dup", t.dup); r.add("hot", t.hot)
  }

  /** Transcript faults counted the way the engine reports them: one leaf
    * violation per broken property plus one `properties` wrapper each. */
  final class Counts {
    var rows = 0L; var fail = 0L; var role = 0L; var text = 0L; var tool = 0L; var toolNulls = 0L
    def add(t: Turn): Unit = {
      rows += 1
      if (t.fail) fail += 1
      if (t.fRole) role += 1
      if (t.fText) text += 1
      if (t.fTool) tool += 1
      if (t.tool == null) toolNulls += 1
    }
    def merge(o: Counts): Unit = {
      rows += o.rows; fail += o.fail; role += o.role; text += o.text; tool += o.tool
      toolNulls += o.toolNulls
    }
    def json(m: ObjectMapper): JsonNode = {
      val n = m.createObjectNode()
      n.put("rows", rows); n.put("fail_rows", fail); n.put("tool_nulls", toolNulls)
      val k = n.putObject("kinds")
      Seq("enum" -> role, "minLength" -> text, "pattern" -> tool, "properties" -> (role + text + tool))
        .filter(_._2 > 0).foreach { case (kk, v) => k.put(kk, v) }
      n
    }
  }

  /** Runs `jobs` on four threads and waits for all of them. */
  private def parallel[A](jobs: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(jobs.map(j => Future(j()))), Duration.Inf)
    finally pool.shutdown()
  }

  private def turnsOf(seed: Long, from: Int, until: Int, file: Int, stream: Boolean): Iterator[Turn] =
    Iterator.range(from, until).flatMap(c => Gen.conversation(seed, c.toLong, file, stream))

  def generate(in: Inputs): Unit = {
    Run.rmTree(in.dir)
    Files.createDirectories(in.dir)
    val m = new ObjectMapper()
    val truth = m.createObjectNode()
    val seed = in.seed
    in.workload match {
      case "table_pass" =>
        val per = Sizes.tableConvs / Sizes.tableFiles
        final case class Slice(parts: Map[Int, Counts], dups: Seq[Turn], hot: Seq[String], hist: Array[Long])
        val slices = parallel((0 until Sizes.tableFiles).map { f => () =>
          val parts = mutable.Map[Int, Counts]()
          val dups = mutable.ArrayBuffer[Turn]()
          val hot = mutable.LinkedHashSet[String]()
          val hist = new Array[Long](42)
          using(in.path(f"table/part-$f%05d.parquet"), turnType) { put =>
            using(in.path(f"truth/part-$f%05d.parquet"), turnTruthType) { putTruth =>
              turnsOf(seed, f * per, (f + 1) * per, 0, stream = false).foreach { t =>
                put(writeTurn(_, t)); putTruth(writeTurnTruth(_, t, 0))
                parts.getOrElseUpdate(t.part, new Counts).add(t)
                // a duplicated turn is emitted twice in a row
                if (t.dup && !dups.lastOption.contains(t)) dups += t
                if (t.hot) hot += t.convId
                // width_bucket(length(text), 0, 200, 40): the drift baseline
                hist(math.min(41, t.text.length / 5 + 1)) += 1
              }
            }
          }
          Slice(parts.toMap, dups.toSeq, hot.toSeq, hist)
        })
        val parts = mutable.Map[Int, Counts]()
        slices.foreach(_.parts.foreach { case (p, c) => parts.getOrElseUpdate(p, new Counts).merge(c) })
        val total = new Counts
        parts.values.foreach(total.merge)
        truth.set[JsonNode]("total", total.json(m))
        val pn = truth.putObject("parts")
        parts.toSeq.sortBy(_._1).foreach { case (p, c) => pn.set[JsonNode](p.toString, c.json(m)) }
        val dn = truth.putArray("dups")
        slices.flatMap(_.dups).foreach(t => dn.addArray().add(t.convId).add(t.turnIdx))
        val hn = truth.putArray("hot")
        slices.flatMap(_.hot).foreach(c => hn.add(c))
        val hist = truth.putArray("hist")
        (0 until 42).foreach(b => hist.add(slices.map(_.hist(b)).sum))

      case "tool_args_json" =>
        val per = Sizes.docs / Sizes.docFiles
        val slices = parallel((0 until Sizes.docFiles).map { f => () =>
          val kinds = mutable.Map[String, Long]()
          var passes = 0L
          var malformed = 0L
          using(in.path(f"docs/part-$f%05d.parquet"), docType) { put =>
            using(in.path(f"truth/part-$f%05d.parquet"), docTruthType) { putTruth =>
              (f * per until (f + 1) * per).foreach { i =>
                val d = Gen.doc(seed, i.toLong)
                put { r => r.add("doc_id", d.id); r.add("tool", d.tool); r.add("args", d.args) }
                putTruth { r =>
                  r.add("doc_id", d.id); r.add("tool", d.tool); r.add("exp_pass", d.pass)
                  r.add("exp_viol", d.kinds.values.sum); r.add("exp_kinds", d.kindsText)
                  r.add("malformed", d.malformed)
                }
                d.kinds.foreach { case (k, n) => kinds(k) = kinds.getOrElse(k, 0L) + n }
                if (d.pass) passes += 1
                if (d.malformed) malformed += 1
              }
            }
          }
          (kinds.toMap, passes, malformed)
        })
        truth.put("docs", Sizes.docs.toLong)
        truth.put("passes", slices.map(_._2).sum)
        truth.put("malformed", slices.map(_._3).sum)
        val kn = truth.putObject("kinds")
        slices.flatMap(_._1).groupBy(_._1).toSeq.sortBy(_._1)
          .foreach { case (k, vs) => kn.put(k, vs.map(_._2).sum) }

      case "stream_verdicts" =>
        // per file: rows, late rows, and on-time (rows, fail_rows) per
        // one-minute event-time window
        def landing(sub: String, s: Long, n: Int, convs: Int) =
          parallel((0 until n).map { f => () =>
            val wins = mutable.TreeMap[Long, (Long, Long)]()
            var rows = 0L
            var fail = 0L
            var late = 0L
            val name = f"f$f%05d.parquet"
            using(in.path(s"$sub/$name"), turnType) { put =>
              using(in.path(s"truth-$sub/$name"), turnTruthType) { putTruth =>
                turnsOf(s, f * convs, (f + 1) * convs, f, stream = true).foreach { t =>
                  put(writeTurn(_, t))
                  putTruth(writeTurnTruth(_, t, f))
                  rows += 1
                  if (t.fail) fail += 1
                  if (t.late) late += 1
                  else {
                    val w = Math.floorDiv(t.tsMs, 60000L) * 60
                    val (r0, f0) = wins.getOrElse(w, (0L, 0L))
                    wins(w) = (r0 + 1, f0 + (if (t.fail) 1 else 0))
                  }
                }
              }
            }
            (rows, fail, late, wins.toSeq)
          })
        val files = landing("files", seed, Sizes.files, Sizes.convsPerFile)
        landing("warm", seed + 1, Sizes.warmFiles, Sizes.convsPerFile)
        // a file stream source takes the oldest file first
        Seq("files", "warm").foreach { sub =>
          val fs = in.files(sub)
          val t0 = System.currentTimeMillis() - fs.size * 1000L
          fs.zipWithIndex.foreach { case (f, k) =>
            Files.setLastModifiedTime(Paths.get(f), FileTime.fromMillis(t0 + k * 1000L))
          }
        }
        val fn = truth.putArray("files")
        files.foreach { case (rows, fail, late, wins) =>
          val o = fn.addObject()
          o.put("rows", rows); o.put("fail_rows", fail); o.put("late", late)
          val w = o.putArray("windows")
          wins.foreach { case (start, (r, f)) => w.addArray().add(start).add(r).add(f) }
        }
    }
    m.writeValue(in.dir.resolve("truth.json").toFile, truth)
    Files.write(in.dir.resolve("_DONE"), Array.emptyByteArray)
  }
}
