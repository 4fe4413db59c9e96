package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import graft.streaming.EventStream
import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}
import scala.collection.mutable

/** Event jsonl files dropped one at a time into a watched directory;
  * `EventStream.readJsonStream` feeds `sessionize` and
  * `dedupWithinWatermark`. An op is one drop followed by
  * `processAllAvailable` on both queries. The only workload with state
  * stores and commit logs, and its state grows batch by batch. */
object EventStreamWorkload extends Workload {
  val name = "event_stream"
  val files = 120
  val eventsPerFile = 400
  val users = 3000
  /** Share of each file that re-sends events of the previous file. */
  val resendShare = 0.05
  val sliceMs = 10L * 60 * 1000
  val gapMs = 30L * 60 * 1000

  def opRows: Long = eventsPerFile
  val warmupOps = 10
  val nominalOpS = 0.8

  final case class Ev(id: Long, tsMs: Long, user: Long, kind: String)

  /** Files in drop order. Each covers a 10-minute slice; users are picked
    * with a Zipf law, so a few are active in every slice and most go
    * quiet for longer than the 30-minute session gap. */
  private def gen(seed: Long): Vector[Vector[Ev]] = {
    val r = new SplittableRandom(seed)
    val zipf = new Inputs.Zipf(users, 1.0)
    val base = 1704067200000L // 2024-01-01T00:00:00Z
    val kinds = Vector("view", "view", "view", "click", "purchase")
    var nextId = 0L
    var prev = Vector.empty[Ev]
    Vector.tabulate(files) { k =>
      val fresh = Vector.fill(eventsPerFile - (if (k == 0) 0 else (eventsPerFile * resendShare).toInt)) {
        nextId += 1
        Ev(nextId, base + k * sliceMs + r.nextLong(sliceMs), zipf.sample(r).toLong, kinds(r.nextInt(kinds.size)))
      }
      val resent = if (k == 0) Vector.empty else Vector.fill(eventsPerFile - fresh.size)(prev(r.nextInt(prev.size)))
      prev = fresh
      fresh ++ resent
    }
  }

  private def line(e: Ev): String =
    s"""{"event_id":${e.id},"ts":"${java.time.Instant.ofEpochMilli(e.tsMs)}","user_id":${e.user},""" +
      s""""event_type":"${e.kind}","value":${e.id % 7}.0,"props":"{}"}"""

  def generate(in: Path, seed: Long): InputProps = {
    val fs = gen(seed)
    val bytes = fs.zipWithIndex.map { case (evs, k) =>
      Inputs.writeLines(in.resolve(f"stage/events-$k%05d.jsonl"), evs.iterator.map(line))
    }.sum
    val all = fs.flatten
    InputProps(all.size, bytes, Seq("files" -> files, "events_per_file" -> eventsPerFile,
      "users" -> all.map(_.user).distinct.size, "resent_share" -> (1.0 - all.map(_.id).distinct.size.toDouble / all.size)))
  }

  def open(spark: SparkSession, in: Path, work: Path, seed: Long): Runner =
    new StreamRunner(spark, in, work, gen(seed))

  /** Reference per file: each user's (events, sessions) after that file,
    * replaying `EventStream.sessionize` batch by batch, and the event ids
    * the dedup query must emit for the first time. */
  final class Reference {
    private val state = mutable.HashMap.empty[Long, (Long, Int, Int)]
    private val seen = mutable.HashSet.empty[Long]
    def advance(evs: Vector[Ev]): (Map[Long, (Int, Int)], Set[Long]) = {
      val touched = evs.groupBy(_.user).map { case (u, es) =>
        var (last, n, s) = state.getOrElse(u, (Long.MinValue, 0, 0))
        es.sortBy(_.tsMs).foreach { e =>
          if (last == Long.MinValue || e.tsMs - last > gapMs) s += 1
          n += 1
          last = e.tsMs
        }
        state(u) = (last, n, s)
        u -> (n, s)
      }
      val fresh = evs.map(_.id).filterNot(seen).toSet
      seen ++= fresh
      (touched, fresh)
    }
  }

  final class StreamRunner(spark: SparkSession, in: Path, work: Path,
                           fs: Vector[Vector[Ev]]) extends Runner {
    private val watch = work.resolve("watch")
    private val ref = new Reference
    private val sessions = mutable.HashMap.empty[Long, (Int, Int)]
    private val emitted = mutable.HashMap.empty[Long, Int]
    private var batchSessions = Map.empty[Long, (Int, Int)]
    private var batchIds = Seq.empty[Long]
    private var queries = Seq.empty[StreamingQuery]
    private val lastBatch = mutable.HashMap.empty[String, Long]
    private var replayed = 0
    /** Progress reports of the batches the latest op ran. */
    var progress = Seq.empty[StreamingQueryProgress]

    override def maxOps: Int = files

    private def start(): Unit = {
      Files.createDirectories(watch)
      import spark.implicits._
      val sess = EventStream.sessionize(spark, EventStream.readJsonStream(spark, watch.toString))
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", work.resolve("ckpt-sessions").toString)
        .foreachBatch(new VoidFunction2[Dataset[EventStream.SessionSummary], java.lang.Long] {
          def call(ds: Dataset[EventStream.SessionSummary], id: java.lang.Long): Unit =
            batchSessions = batchSessions ++ ds.collect().map(s => s.user_id -> (s.n_events, s.n_sessions))
        }).start()
      val dedup = EventStream.dedupWithinWatermark(EventStream.readJsonStream(spark, watch.toString))
        .select($"event_id")
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", work.resolve("ckpt-dedup").toString)
        .foreachBatch(new VoidFunction2[Dataset[Row], java.lang.Long] {
          def call(ds: Dataset[Row], id: java.lang.Long): Unit =
            batchIds = batchIds ++ ds.collect().map(_.getLong(0))
        }).start()
      queries = Seq(sess, dedup)
    }

    def run(i: Int, out: Path): Unit = {
      if (queries.isEmpty) start()
      batchSessions = Map.empty
      batchIds = Seq.empty
      val f = f"events-$i%05d.jsonl"
      Files.move(in.resolve("stage").resolve(f), watch.resolve(f), StandardCopyOption.ATOMIC_MOVE)
      queries.foreach(_.processAllAvailable())
    }

    def check(i: Int, out: Path): Option[String] = {
      progress = queries.flatMap { q =>
        val from = lastBatch.getOrElse(q.id.toString, -1L)
        val ps = q.recentProgress.filter(_.batchId > from).toSeq
        ps.lastOption.foreach(p => lastBatch(q.id.toString) = p.batchId)
        ps
      }
      // the reference replays every file dropped so far, also those of
      // ops that failed before their check ran
      var expected = (Map.empty[Long, (Int, Int)], Set.empty[Long])
      while (replayed <= i) { expected = ref.advance(fs(replayed)); replayed += 1 }
      val (expSessions, expIds) = expected
      sessions ++= batchSessions
      batchIds.foreach(id => emitted(id) = emitted.getOrElse(id, 0) + 1)
      expSessions.find { case (u, v) => !sessions.get(u).contains(v) }
        .map { case (u, v) => s"user $u sessions ${sessions.get(u).orNull}, expected $v after file $i" }
        .orElse(batchIds.find(emitted(_) > 1).map(id => s"event $id emitted twice"))
        .orElse(if (batchIds.toSet != expIds)
          Some(s"file $i: ${batchIds.size} new event ids, expected ${expIds.size}") else None)
    }

    override def close(): Unit = queries.foreach(_.stop())
  }
}
