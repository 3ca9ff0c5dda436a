package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.gql.Parser
import graft.plan.ReadPlanner
import graft.store.GraphStore
import graft.write.Writer

/** `session`: one client on a store that starts empty, running a
  * seeded script of rounds. A round is ten writes through
  * `Writer.write` followed by one read through
  * `ReadPlanner.plan(...).collect()` that must see every earlier write.
  * The op the end-to-end metrics time is the round.
  *
  * Writes are either a plain append (a note with a tag link) or a
  * `key=(name value)` upsert of a person, with a `knows` link to the
  * person first written before it. Re-writing a person repeats its
  * first template, so the upsert must add nothing. Reads are either a
  * 1-hop read of a person written earlier or a word match over notes
  * with `sort` and `pagesize`. The harness keeps its own model of what
  * was written and checks every read, and the final primitive count,
  * against it.
  */
object Session {
  val rounds = 40
  val writesPerRound = 10
  val warmupRounds = 4
  val vocabulary: IndexedSeq[String] =
    ("amber basil cedar delta ember fjord garnet harbor indigo juniper " +
      "kelp lumen maple nectar onyx pepper quartz russet sable tundra").split(" ")
      .toIndexedSeq
  val persons = 60

  sealed trait Op
  final case class Append(words: Seq[String], tag: String) extends Op
  final case class Upsert(person: Int) extends Op
  final case class HopRead(person: Int) extends Op
  final case class WordRead(word: String, pagesize: Int) extends Op

  /** The seeded script: `rounds` × (writes, then one read). Every round
    * has the same make-up, half appends and half upserts in a seeded
    * order. Every third read is a 1-hop read and the rest are word
    * matches, so a seed changes what is written and read but not how
    * much of each. The two read kinds differ in cost; at one in three,
    * neither the median round nor the p75 round sits on the boundary
    * between them. */
  def script(seed: Long, nRounds: Int, salt: String): Seq[Seq[Op]] = {
    val r = new SplittableRandom(seed)
    val written = mutable.LinkedHashSet.empty[Int]
    def word() = vocabulary(r.nextInt(vocabulary.length)) + salt
    (0 until nRounds).map { i =>
      val kinds = Array.tabulate(writesPerRound)(_ % 2 == 0)
      (kinds.length - 1 to 1 by -1).foreach { k =>
        val j = r.nextInt(k + 1)
        val t = kinds(k); kinds(k) = kinds(j); kinds(j) = t
      }
      val ws = kinds.toSeq.map { append =>
        if (append) Append(Seq.fill(3)(word()), s"t${r.nextInt(8)}")
        else {
          val p = r.nextInt(persons)
          written += p
          Upsert(p)
        }
      }
      val read =
        if (i % 3 == 0) HopRead(written.toSeq(r.nextInt(written.size)))
        else WordRead(word(), 5 + r.nextInt(6))
      ws :+ read
    }
  }

  /** Runs scripts against a fresh store and checks each read against
    * the harness's model of what was written; keeps each write's and
    * read's latency by op type. */
  final class Runner(ctx: Ctx, salt: String) {
    var store: GraphStore = GraphStore.fromSeq(ctx.spark, Nil)
    private val personId = mutable.Map.empty[Int, Long]
    private val knows = mutable.Map.empty[Int, Option[Int]]
    private var lastNew: Option[Int] = None
    private val notes = mutable.ArrayBuffer.empty[Set[String]]
    var expectedRows = 0L
    /** Spark jobs fired by reads (traced runs only) */
    var readJobs = 0L
    val samples = mutable.ArrayBuffer.empty[(String, Long)]

    private def pname(p: Int) = s"p$p$salt"

    def text(op: Op): String = op match {
      case Append(ws, tag) =>
        s"""write (name="note" value="${ws.mkString(" ")}" (<-left name="tag" value="$tag"))"""
      case Upsert(p) =>
        val link = knows.getOrElseUpdate(p, lastNew).map(q =>
          s""" (<-left name="knows" right=${personId(q)} key=(name left right))""")
        s"""write (name="person" value="${pname(p)}" key=(name value)${link.getOrElse("")})"""
      case HopRead(p) =>
        s"""read (name="person" value="${pname(p)}" result=((guid)) (<-left name="knows"))"""
      case WordRead(w, ps) =>
        s"""read (name="note" value~="$w" sort=value pagesize=$ps result=((value)))"""
    }

    def run(op: Op, req: Long): Unit = op match {
      case w @ (_: Append | _: Upsert) =>
        val kind = if (w.isInstanceOf[Append]) "append" else "upsert"
        val q = text(w)
        val t = System.nanoTime()
        ctx.guarded(s"write.$kind") {
          val (st2, ids) = ctx.tracer.span(s"write.$kind", req) {
            Writer.write(store, q)
          }
          store = st2
          samples += (s"write.$kind" -> (System.nanoTime() - t))
          w match {
            case Append(ws, _) => notes += ws.toSet; expectedRows += 2
            case Upsert(p) =>
              if (!personId.contains(p)) {
                personId(p) = ids.head
                expectedRows += 1 + knows(p).size
                lastNew = Some(p)
              } else if (ids.head != personId(p))
                ctx.fail("write.upsert", s"$q re-keyed ${personId(p)} as ${ids.head}")
            case _ =>
          }
        }
      case rd =>
        val q = text(rd)
        val t = System.nanoTime()
        ctx.guarded("read") {
          val c0 = ctx.counters.map(_.snapshot())
          val rows = ctx.tracer.span("gql.read", req) {
            val c = ctx.tracer.span("gql.parse", req)(Parser.parseRead(q))
            val df = ctx.tracer.span("plan.build", req)(ReadPlanner.plan(store, c))
            ctx.tracer.span("exec.collect", req)(df.collect())
          }
          samples += ("read" -> (System.nanoTime() - t))
          for (a <- c0; b <- ctx.counters.map(_.snapshot())) readJobs += b("jobs") - a("jobs")
          val ok = rd match {
            case HopRead(p) =>
              val want = if (knows.get(p).flatten.isDefined) Seq(personId(p)) else Nil
              rows.map(_.getLong(0)).toSeq == want
            case WordRead(w, ps) =>
              val vals = rows.map(_.getString(0)).toSeq
              vals.length == math.min(ps, notes.count(_.contains(w))) &&
                vals.forall(_.split(" ").contains(w)) &&
                vals == vals.sorted
            case _ => false
          }
          if (!ok) ctx.fail("read", s"$q: got ${rows.map(_.toString).mkString(",")}")
        }
    }

    /** every round's latency (ns) */
    def runScript(s: Seq[Seq[Op]], reqBase: Long): Array[Long] =
      s.zipWithIndex.map { case (round, i) =>
        val t = System.nanoTime()
        ctx.tracer.span("round", reqBase + i) {
          round.foreach(op => run(op, reqBase + i))
        }
        System.nanoTime() - t
      }.toArray

    /** the final current view holds the primitive count the script implies */
    def checkCount(): Unit = ctx.guarded("check.count") {
      val got = store.current.count()
      if (got != expectedRows)
        ctx.fail("check.count", s"current view has $got primitives, script implies $expectedRows")
    }
  }

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx._
    repeatedSetup { i =>
      // a warm-up script on a throwaway store: the first reads of a
      // process pay several seconds of one-time code generation
      val salt = "w" + ('a' + i).toChar
      val w = new Runner(ctx, salt)
      w.runScript(script(seed + 17 + i, warmupRounds, salt), 1L << 40)
      w.checkCount()
      ((), Map.empty[String, Double])
    }
    val runner = new Runner(ctx, "")
    val s = script(seed, rounds, "")
    val c0 = counters.map(_.snapshot())
    val t0 = System.nanoTime()
    val (lat, total) = jvmRegion((runner.runScript(s, 0L), since(t0)))
    val spark0 = for (a <- c0; b <- counters.map(_.snapshot()))
      yield SparkCounters.delta(a, b)
    runner.checkCount()
    writeLatencies("lat.bin", lat)
    val byType = runner.samples.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    Map("timed_s" -> total, "ops" -> lat.length, "op_latencies_file" -> "lat.bin",
      "op_samples_ns" -> byType, "store_rows" -> runner.expectedRows,
      "read_jobs" -> runner.readJobs, "spark" -> spark0)
  }
}
