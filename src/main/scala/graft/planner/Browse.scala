package graft.planner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interactive one-step exploration — the CLI analogue of the
  * reference's Flask browser (/root/reference/frame_tasks/serve.py:
  * 110-147, serve_view_df.py:75-157): from a pool of source frames,
  * repeatedly list the legal next actions ([[Planner.actions]]),
  * apply the chosen one ([[Executor.callTask]]), and page through a
  * stably-ordered preview of the newest frame. The steps taken
  * serialize via [[PlanJson]] (the JSON replacement for the
  * reference's URL query strings) and materialize through
  * [[graft.sources.Sources.PlanCache]].
  *
  * The session is a plain value + pure transitions so the spec can
  * drive it exactly as a user would; `main` wires it to stdin.
  */
object Browse {

  final case class Session(
      registry: TaskRegistry,
      pool: Vector[DataFrame],
      state: Planner.State,
      path: Vector[Planner.Action])

  def open(registry: TaskRegistry, sources: Seq[DataFrame]): Session =
    Session(registry, sources.toVector,
      Planner.initial(sources.toVector.map(_.columns.toVector)),
      Vector.empty)

  /** Legal next steps from the current pool. */
  def actions(s: Session): Vector[Planner.Action] =
    Planner.actions(s.registry, s.state)

  /** One-line rendering of an action (the browser's link text). */
  def describe(a: Planner.Action): String = {
    val binds = a.bindings.toSeq.sortBy(_._1).map { case (arg, b) =>
      s"$arg=#${b.frameIdx}(${b.cols.map(_.column).mkString(",")})"
    }.mkString(" ")
    s"${a.task.name} $binds -> ${a.outputs.map(_.mkString("[", ",", "]")).mkString(" ")}"
  }

  /** Apply action `idx` from [[actions]]; appends its output frames. */
  def step(s: Session, idx: Int): Session = {
    val a = actions(s)(idx)
    Session(s.registry,
      s.pool ++ Executor.callTask(s.pool, a),
      Planner.apply(s.state, a),
      s.path :+ a)
  }

  val PageSize = 30 // serve_view_df.py's PAGE_SIZE

  /** The distributed page plan: the stable-ordered (all columns
    * ascending) rows [pageIdx * pageSize, +pageSize). Spark plans
    * orderBy + offset + limit as TakeOrderedAndProject — every
    * partition keeps only its local top-(offset + pageSize), the
    * driver merges and SKIPS the offset, so only one page of rows is
    * ever collected however deep the page (no single-partition
    * global Window, and no O(page * size) driver collect — the
    * round-4 audit's last CLI-side trap).
    */
  private[planner] def previewTop(df: DataFrame, pageIdx: Int,
      pageSize: Int): DataFrame = {
    val order = df.columns.toSeq.map(c => col(s"`$c`").asc)
    df.orderBy(order: _*)
      .offset((pageSize * pageIdx).max(0)).limit(pageSize)
  }

  /** Page `pageIdx` of the newest frame under a stable total order —
    * the lazy [[previewTop]] plan; collecting it yields exactly the
    * page. (The Serve layer pages a sorted parquet cache instead —
    * bounded FILE reads — but the CLI browses un-materialized frames,
    * where the distributed top-k + offset is the right shape.)
    */
  def preview(s: Session, pageIdx: Int, pageSize: Int = PageSize): DataFrame =
    previewTop(s.pool.last, pageIdx, pageSize)

  /** One command against the session; returns the next session and
    * the lines to print. Commands: `<n>` apply action n; `p <k>`
    * page k of the newest frame; `plan` dump the steps as JSON;
    * `cache <dir>` materialize the newest frame under its plan hash;
    * anything else re-lists the state.
    */
  def command(s: Session, line: String): (Session, Seq[String]) =
    line.trim.split("\\s+").toList match {
      case n :: Nil if n.forall(_.isDigit) && n.nonEmpty =>
        val acts = actions(s)
        val i = n.toInt
        if (i >= acts.length) (s, Seq(s"no action $i"))
        else {
          val next = step(s, i)
          (next, Seq(s"applied: ${describe(acts(i))}") ++ listing(next))
        }
      case "p" :: k :: Nil =>
        (s, preview(s, k.toInt).collect().map(_.toString).toSeq)
      case "plan" :: Nil =>
        (s, Seq(PlanJson.toJson(s.path)))
      case "goal" :: cols if cols.nonEmpty =>
        // BFS-plan from the CURRENT pool to the requested column set
        // and apply the whole path — the reference's goal-directed
        // mode (solve.py) launched from mid-exploration state
        Planner.findPath(s.registry, s.pool.map(_.columns.toVector),
          Vector(cols.toVector)) match {
          case None => (s, Seq(s"goal ${cols.mkString(",")} unreachable"))
          case Some(path) =>
            val next = path.foldLeft(s) { (acc, a) =>
              Session(acc.registry,
                acc.pool ++ Executor.callTask(acc.pool, a),
                Planner.apply(acc.state, a),
                acc.path :+ a)
            }
            (next, Seq(s"planned ${path.length} steps: " +
              path.map(_.task.name).mkString(" -> ")) ++ listing(next))
        }
      case "cache" :: dir :: Nil =>
        val cached = graft.sources.Sources.PlanCache
          .materialize(s.pool.last.sparkSession, s.pool.last, dir)
        (s, Seq(s"cached ${cached.count()} rows under " +
          graft.sources.Sources.PlanCache.planKey(s.pool.last)))
      case _ => (s, listing(s))
    }

  /** The browser "page": pool summary + numbered next actions. */
  def listing(s: Session): Seq[String] = {
    val frames = s.pool.zipWithIndex.map { case (df, i) =>
      s"frame #$i: (${df.columns.mkString(", ")})"
    }
    val acts = actions(s).zipWithIndex.map { case (a, i) =>
      s"  [$i] ${describe(a)}"
    }
    frames ++ (s"next steps:" +: acts)
  }

  /** The frame both explorer mains ([[main]], [[Serve.main]]) start
    * from: `sfDir`'s documents table, or test2's literal frame.
    */
  private[planner] def mainSource(spark: SparkSession,
      sfDir: Option[String]): DataFrame = sfDir match {
    case Some(dir) => graft.ops.T(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    case None =>
      import spark.implicits._
      Seq((0L, "sankho123 turjo sarkar456")).toDF("index", "name")
  }

  /** stdin/stdout driver: `runMain graft.planner.Browse [sfDir]`. */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val source = mainSource(spark, args.headOption)
    var s = open(Library.registry, Seq(source))
    listing(s).foreach(println)
    print("> "); Console.out.flush()
    var line = scala.io.StdIn.readLine()
    while (line != null && line.trim != "q") {
      val (next, out) = command(s, line)
      s = next
      out.foreach(println)
      print("> "); Console.out.flush()
      line = scala.io.StdIn.readLine()
    }
    spark.stop()
  }
}
