package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.T
import graft.planner._

/** The paper's own user flow over HTTP: one client walks seeded goals
  * on a `planner.Serve` — plan the goal, open the explore page, poll
  * the goal frame's first page until PlanCache has materialized it,
  * read further pages (re-reads favoured), download the CSV.
  *
  * Each pass serves a new slice of the corpus (`doc_id % 1000 !=
  * pass`), so every pass plans, composes and materializes new plans:
  * the PlanCache miss path runs once per goal and the hit path on every
  * later page.
  */
final class PlanBrowse extends Workload {
  import PlanBrowse._

  /** Single requests that return content. The first view's polls are
    * not ops of their own; its wait is `first_page_s`.
    */
  def unitKinds: Set[String] = Set("goal", "explore", "page", "csv")
  override def minPasses: Int = 2

  private var docs: DataFrame = _
  private var registry: TaskRegistry = _
  private var rng: scala.util.Random = _
  private val http = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NEVER).build()
  private val observed = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def get(port: Int, path: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .GET().build(), HttpResponse.BodyHandlers.ofString(UTF_8))

  private def ok(r: HttpResponse[String], code: Int = 200): String = {
    if (r.statusCode != code)
      throw new IllegalStateException(
        s"HTTP ${r.statusCode} (expected $code): ${r.body.take(300)}")
    r.body
  }

  private def source(slice: Int) =
    docs.filter(col("doc_id") % 1000 =!= slice)

  def warmup(ctx: Ctx): Unit = {
    docs = T(ctx.spark, ctx.data, "documents").select("doc_id", "text")
    rng = new scala.util.Random(ctx.seed)
    registry = TaskRegistry.of(
      Library.registry.tasks ++ distractors(rng): _*)
    val srv = new Serve(registry, Seq(source(WarmupSlice)),
      s"${ctx.work}/cache-warmup", 0)
    try Main.parallel(Goals.size)(Goals.map(g => () =>
      warmWalk(srv.boundPort, g)))
    finally srv.stop()
  }

  /** One walk that skips the measured parts, for warm-up threads. */
  private def warmWalk(port: Int, goal: String): Unit = {
    val l = get(port, s"/goal/$goal").headers.firstValue("Location").get
    val idx = ViewLink.findAllMatchIn(ok(get(port, l)))
      .map(_.group(1).toInt).max
    val q = l.stripPrefix("/explore/")
    while (get(port, s"/view/0/$idx/$q").statusCode == 202)
      Thread.sleep(PollMs)
    ok(get(port, s"/view/1/$idx/$q"))
    ok(get(port, s"/download/csv/$idx/$q"))
  }

  /** Start a server and render its root explore page. */
  def setupUnit(ctx: Ctx): Unit = {
    val srv = new Serve(registry, Seq(docs),
      s"${ctx.work}/cache-setup", 0)
    try ok(get(srv.boundPort, "/explore/")) finally srv.stop()
  }

  def pass(ctx: Ctx): Unit = {
    acc.clear()
    session(ctx, ctx.pass)
  }

  private def session(ctx: Ctx, slice: Int): Unit = {
    val src = source(slice)
    val srv = new Serve(registry, Seq(src), s"${ctx.work}/cache-$slice", 0)
    try rng.shuffle(Goals).foreach(g => walk(ctx, srv.boundPort, src, slice, g))
    finally srv.stop()
  }

  private def walk(ctx: Ctx, port: Int, src: DataFrame, slice: Int,
      goal: String): Unit = {
    val goalSets = Vector(goal.split(",").toVector)
    val cols = Vector(src.columns.toVector)
    var plan = Vector.empty[Planner.Action]
    val traced = ctx.trace.on
    def replay(): Unit = if (traced) {
      val t = System.nanoTime()
      val pool = ctx.trace.span("compose", "executor")(
        Executor.runPath(Seq(src), plan))
      val analysis = pool.drop(1).map(_.queryExecution.tracker.phases
        .get("analysis").map(_.durationMs).getOrElse(0L)).sum.toDouble
      acc("catalyst.analysis_ms") += analysis
      acc("executor.compose_ms") += (System.nanoTime() - t) / 1e6 - analysis
    }
    def observe(kind: String, page: Int, body: Any): Unit =
      observed += Map("slice" -> slice, "goal" -> goal, "kind" -> kind,
        "page" -> page, "body" -> body)

    val loc = ctx.op("goal", goal) {
      if (traced) {
        val t = System.nanoTime()
        val (p, expanded) = ctx.trace.span("search", "planner")(
          Planner.findPathAStarCounted(registry, cols, goalSets))
        acc("planner.search_ms") += (System.nanoTime() - t) / 1e6
        acc("planner.expanded") += expanded
        plan = p.getOrElse(Vector.empty)
      }
      get(port, s"/goal/$goal").headers.firstValue("Location")
        .orElseThrow(() => new IllegalStateException(s"goal $goal not planned"))
    }
    val explore = loc.flatMap(l => ctx.op("explore", goal) {
      replay()
      if (traced) {
        val t = System.nanoTime()
        ctx.trace.span("actions", "planner")(Planner.actions(registry,
          plan.foldLeft(Planner.initial(cols))(Planner.apply)))
        acc("planner.actions_ms") += (System.nanoTime() - t) / 1e6
      }
      ok(get(port, l))
    })
    val q = loc.map(_.stripPrefix("/explore/")).getOrElse("")
    val frame = explore.map(e => ViewLink.findAllMatchIn(e)
      .map(_.group(1).toInt).max)
    val first = frame.flatMap(idx => ctx.op("first_view", goal) {
      replay()
      var r = get(port, s"/view/0/$idx/$q")
      while (r.statusCode == 202) {
        acc("plancache.wait_polls") += 1
        Thread.sleep(PollMs)
        r = get(port, s"/view/0/$idx/$q")
      }
      acc("plancache.views") += 1
      ok(r)
    })
    first.foreach { html =>
      val idx = frame.get
      observe("page", 0, rows(html))
      val npages = Pages.findFirstMatchIn(html).map(_.group(1).toInt + 1)
        .getOrElse(1)
      val seen = mutable.ArrayBuffer(0)
      (1 to PagesPerWalk).foreach { _ =>
        val p =
          if (rng.nextDouble() < ReReadShare) seen(rng.nextInt(seen.size))
          else rng.nextInt(npages)
        seen += p
        ctx.op("page", goal) {
          replay()
          val r = get(port, s"/view/$p/$idx/$q")
          acc("plancache.views") += 1
          if (r.statusCode == 200) acc("plancache.hits") += 1
          ok(r)
        }.foreach(h => observe("page", p, rows(h)))
      }
      ctx.op("csv", goal)(ok(get(port, s"/download/csv/$idx/$q")))
        .foreach(csv => observe("csv", -1, csv))
    }
  }

  override def afterPass(ctx: Ctx, pass: Map[String, Double]): Map[String, Double] = {
    val views = acc("plancache.views") + acc("plancache.wait_polls")
    Map("planner.search_ms" -> acc("planner.search_ms"),
      "planner.expanded" -> acc("planner.expanded"),
      "planner.actions_ms" -> acc("planner.actions_ms"),
      "executor.compose_ms" -> acc("executor.compose_ms"),
      "catalyst.analysis_ms" -> acc("catalyst.analysis_ms"),
      "plancache.wait_polls" -> acc("plancache.wait_polls"),
      "plancache.hit_ratio" ->
        (if (views > 0) acc("plancache.hits") / views else 0.0))
  }

  /** Everything the client saw, for the DuckDB side to compare with
    * the oracles over the same corpus slices.
    */
  def check(ctx: Ctx): Map[String, Any] = {
    val path = s"${ctx.work}/browse_observed.json"
    Files.write(Paths.get(path), Json(observed).getBytes(UTF_8))
    Map("kind" -> "plan_browse", "observed" -> path, "page_size" -> Browse.PageSize)
  }
}

object PlanBrowse {
  /** The paper's flagship goal, a planned dedup, and a two-step split
    * chain (splitter then remove_num).
    */
  val Goals = Seq("text.tokens.top90", "text.canonical_id,text.n_copies",
    "text.split.alpha")
  val PagesPerWalk = 4
  val ReReadShare = 0.5
  val PollMs = 20L
  val WarmupSlice = 999

  private val ViewLink = """/view/0/(\d+)/""".r
  private val Pages = """page \d+/(\d+)</h1>""".r
  private val Row = """<tr>((?:<td>.*?</td>)+)</tr>""".r
  private val Cell = """<td>(.*?)</td>""".r

  private def unescape(s: String) = s.replace("&lt;", "<").replace("&gt;", ">")
    .replace("&quot;", "\"").replace("&amp;", "&")

  def rows(html: String): Seq[Seq[String]] =
    Row.findAllMatchIn(html).map(m =>
      Cell.findAllMatchIn(m.group(1)).map(c => unescape(c.group(1))).toSeq
    ).toSeq

  /** Generic one-column tasks in the shape of the reference's usenet
    * registry: each applies to every column, so they widen plan search
    * and action enumeration without lying on any goal's path. The seed
    * picks which.
    */
  def distractors(rng: scala.util.Random): Seq[Task] = {
    val pool = Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      "upper" -> upper, "trim" -> trim, "reverse" -> reverse,
      "md5" -> md5, "initcap" -> initcap, "soundex" -> soundex)
    rng.shuffle(pool).take(3).map { case (name, f) =>
      Task(name, Vector(Req("x", Vector(Pat("(.+)")))),
        Vector(Vector(s"{x}.$name")))(in => {
        val c = in.bindings("x").cols.head.column
        Seq(in.frames("x").select(
          f(col(s"`$c`").cast("string")).as(in.expects.head.head)))
      })
    }
  }
}
