package graft.planner

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Sources.PlanCache

/** Drives [[Serve]] over real HTTP the way a browser drives the
  * reference's Flask app (serve.py): explore → follow an action link
  * → view the produced frame (first hit gets the async wait page,
  * then the rendered table) → download the CSV.
  */
class ServeSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def get(url: String, cookie: String = ""): HttpResponse[String] = {
    val req = HttpRequest.newBuilder(URI.create(url)).GET()
    if (cookie.nonEmpty) req.header("Cookie", cookie)
    client.send(req.build(), HttpResponse.BodyHandlers.ofString())
  }

  /** Poll `url` until the async materialization finishes (202 → 200),
    * like the reference's data_wait.html auto-refresh loop.
    */
  private def getDone(url: String, attempts: Int = 100, pollMs: Long = 200,
      cookie: String = ""): HttpResponse[String] = {
    var r = get(url, cookie)
    var left = attempts * 200 / pollMs
    while (r.statusCode() == 202 && left > 0) {
      Thread.sleep(pollMs); r = get(url, cookie); left -= 1
    }
    r
  }

  /** `body`'s result and the Spark jobs started while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val r = body
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext, 30000)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  /** A wide column width, so rendered cells are whole values. */
  private val Wide = "colw=100000"

  /** The table cells of a rendered page, unescaped. */
  private def cells(html: String): Seq[Seq[String]] =
    """<tr>((?:<td>.*?</td>)+)</tr>""".r.findAllMatchIn(html).map(m =>
      """<td>(.*?)</td>""".r.findAllMatchIn(m.group(1)).map(_.group(1)
        .replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
        .replace("&amp;", "&")).toSeq).toSeq

  private def stableOrder(df: DataFrame) =
    df.columns.toSeq.map(c => col(s"`$c`").asc)

  test("explore -> act -> view -> csv round-trips over HTTP") {
    import spark.implicits._
    val source = Seq((0L, "sankho123 turjo sarkar456")).toDF("index", "name")
    val cacheDir = java.nio.file.Files
      .createTempDirectory("graft-serve-spec").toString
    val srv = new Serve(
      TaskRegistry.of(Library.splitter, Library.removeNum),
      Seq(source), cacheDir)
    try {
      val base = s"http://localhost:${srv.boundPort}"

      // the root explore page lists the source frame and the splitter
      val home = get(s"$base/explore/")
      assert(home.statusCode() == 200, home.body())
      assert(home.body().contains("frame #0: (index, name)"), home.body())
      assert(home.body().contains("splitter"), home.body())

      // bound columns carry the reference's colored-double-overline
      // coding (state.tpl) and the page is planner.html's Current/Next
      assert(home.body().contains("double overline"), home.body())
      assert(home.body().contains("<h1>Current</h1>") &&
        home.body().contains("<h1>Next</h1>"), home.body())

      // follow the action whose output is name.split (state moves
      // entirely via the URL, like the reference's ?q=)
      val link = """href="(/explore/[^"]+)">(.*?)</a>""".r
        .findAllMatchIn(home.body())
        .collectFirst { case m if m.group(2).contains("name.split") =>
          m.group(1) }
      assert(link.isDefined, home.body())
      val after = get(base + link.get)
      assert(after.statusCode() == 200, after.body())
      assert(after.body().contains("name.split"), after.body())
      assert(after.body().contains("remove_num"), after.body())
      // the applied step lists under Tasks and can be cancelled
      assert(after.body().contains("Cancel last task"), after.body())

      // view the new frame: async compute, then a rendered page
      val q = link.get.stripPrefix("/explore/")
      val view = getDone(s"$base/view/0/1/$q")
      assert(view.statusCode() == 200, view.body())
      assert(view.body().contains("sankho123"), view.body())
      assert(view.body().contains("<table>"), view.body())
      // "last" page arithmetic resolves like serve_view_df.py:83-85
      assert(getDone(s"$base/view/last/1/$q").statusCode() == 200)

      // CSV download carries all rows
      val csv = getDone(s"$base/download/csv/1/$q")
      assert(csv.statusCode() == 200)
      assert(csv.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/csv"))
      assert(csv.body().linesIterator.size == 4, csv.body()) // header + 3 rows
      assert(csv.body().contains("turjo"), csv.body())

      // col-width cookie endpoints adjust the display width
      val wider = get(s"$base/view/increase_col_width/10")
      assert(wider.body() == "40", wider.body())
      assert(wider.headers().firstValue("Set-Cookie").orElse("") == "colw=40")
      val narrower = client.send(
        HttpRequest.newBuilder(URI.create(s"$base/view/decrease_col_width/10"))
          .header("Cookie", "colw=40").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(narrower.body() == "30", narrower.body())

      // a narrow colw cookie truncates table cells like the reference
      val narrowView = client.send(
        HttpRequest.newBuilder(URI.create(s"$base/view/0/1/$q"))
          .header("Cookie", "colw=4").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(narrowView.body().contains("sank..."), narrowView.body())

      // the goal route plans a whole path and redirects to it
      val goal = get(s"$base/goal/name.split.alpha")
      assert(goal.statusCode() == 302, goal.body())
      val planned = get(base +
        goal.headers().firstValue("Location").orElseThrow())
      assert(planned.body().contains("name.split.alpha"), planned.body())
      assert(get(s"$base/goal/no.such.column").statusCode() == 404)

      // bad routes 404 rather than crash the server
      assert(get(s"$base/nope").statusCode() == 404)
    } finally srv.stop()
  }

  test("warm CSV download streams from disk: zero Spark jobs, no collect") {
    import spark.implicits._
    val source = Seq((0L, "sankho123 turjo sarkar456")).toDF("index", "name")
    val cacheDir = java.nio.file.Files
      .createTempDirectory("graft-serve-csv").toString
    val srv = new Serve(TaskRegistry.of(Library.splitter), Seq(source), cacheDir)
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val cold = getDone(s"$base/download/csv/0/")
      assert(cold.statusCode() == 200, cold.body())
      assert(cold.body().contains("sankho123"), cold.body())

      val (warm, jobs) = jobsDuring(get(s"$base/download/csv/0/"))
      assert(warm.statusCode() == 200)
      assert(warm.body() == cold.body())
      assert(jobs == 0,
        s"warm CSV download ran $jobs Spark jobs; must stream from disk")
    } finally srv.stop()
  }

  test("a deep last page reads one bounded cache file, not the frame") {
    val n = 50000L // 1,667 pages — the old limit(n) path would collect all n
    val source = spark.read.format("graft.sources.SynthDocsSource")
      .option("rows", n.toString).option("partitions", "8")
      .option("tokens", "5").load()
    val cacheDir = java.nio.file.Files
      .createTempDirectory("graft-serve-deep").toString
    val srv = new Serve(TaskRegistry.of(Library.splitter), Seq(source), cacheDir)
    try {
      val base = s"http://localhost:${srv.boundPort}"
      assert(getDone(s"$base/view/0/0/").statusCode() == 200)

      val read = new java.util.concurrent.atomic.LongAdder
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = e.stageInfo.taskMetrics
          if (m != null) read.add(m.inputMetrics.recordsRead)
        }
      }
      spark.sparkContext.addSparkListener(counter)
      val decodedBefore = srv.rowsDecoded.sum
      val last =
        try {
          val r = get(s"$base/view/last/0/")
          org.apache.spark.GraftListenerDrain.drain(spark.sparkContext, 30000)
          r
        } finally spark.sparkContext.removeSparkListener(counter)
      assert(last.statusCode() == 200, last.body())
      assert(last.body().contains(s"page 1666/1666"), last.body())
      // a page spans at most two 4096-row cache files; reading rows
      // anywhere near the 50k frame means the bounded paging regressed
      assert(read.sum < 10000,
        s"last-page render read ${read.sum} records; paging must stay bounded")
      // the page files are decoded on the driver, outside Spark's input
      // metrics: the server's own count says how much it read
      val decoded = srv.rowsDecoded.sum - decodedBefore
      assert(decoded > 0 && decoded <= 2 * 4096,
        s"last-page render decoded $decoded rows; paging must stay bounded")

      // page 136 covers rows 4080-4110: it STRADDLES the 4096-row
      // file boundary, so both overlapping files must contribute and
      // the stitched page must still hold exactly PageSize rows
      val straddle = get(s"$base/view/136/0/")
      assert(straddle.statusCode() == 200, straddle.body())
      val dataRows = "<tr><td>".r.findAllIn(straddle.body()).size
      assert(dataRows == Browse.PageSize,
        s"boundary-straddling page rendered $dataRows rows, " +
          s"expected ${Browse.PageSize}")
    } finally srv.stop()
  }

  test("a second instance over the same plan rebuilds ITS caches, not empty 200s") {
    // PlanCache status is JVM-global; cacheDir is per-instance. A
    // Done recorded by instance A must not trick instance B into
    // serving pages/CSV from files it never built.
    import spark.implicits._
    val source = Seq((7L, "alpha beta gamma")).toDF("index", "name")
    def newServe() = new Serve(TaskRegistry.of(Library.splitter), Seq(source),
      java.nio.file.Files.createTempDirectory("graft-serve-2nd").toString)
    val a = newServe()
    try {
      val viewA = getDone(s"http://localhost:${a.boundPort}/view/0/0/")
      assert(viewA.statusCode() == 200 && viewA.body().contains("alpha"))
    } finally a.stop()
    val b = newServe()
    try {
      // first hit may answer 202 while B fills its own cacheDir; it
      // must NEVER answer 200 without the data
      val viewB = getDone(s"http://localhost:${b.boundPort}/view/0/0/")
      assert(viewB.statusCode() == 200, viewB.body())
      assert(viewB.body().contains("alpha"), viewB.body())
      val csvB = getDone(s"http://localhost:${b.boundPort}/download/csv/0/")
      assert(csvB.statusCode() == 200)
      assert(csvB.body().linesIterator.size == 2, csvB.body()) // header + 1 row
      assert(csvB.body().contains("beta"), csvB.body())
    } finally b.stop()
  }

  test("a warm page render runs zero Spark jobs") {
    import spark.implicits._
    val source = Seq((0L, "sankho123 turjo sarkar456")).toDF("index", "name")
    val cacheDir = java.nio.file.Files
      .createTempDirectory("graft-serve-page").toString
    val srv = new Serve(TaskRegistry.of(Library.splitter), Seq(source), cacheDir)
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val cold = getDone(s"$base/view/0/0/")
      assert(cold.statusCode() == 200, cold.body())
      val (warm, jobs) = jobsDuring(get(s"$base/view/0/0/"))
      assert(warm.statusCode() == 200)
      assert(warm.body() == cold.body())
      assert(jobs == 0,
        s"warm page render ran $jobs Spark jobs; must read the page files")
    } finally srv.stop()
  }

  test("driver-read pages equal a Spark orderBy/offset/limit read of the cache") {
    // ties on k make the later columns decide the order; s and arr
    // carry nulls, arr is an array column
    val source = spark.range(24000).select(
      (col("id") % 97).as("k"),
      when(col("id") % 5 === 0, lit(null))
        .otherwise(concat(lit("s"), col("id").cast("string"))).as("s"),
      when(col("id") % 7 === 0, lit(null))
        .otherwise(array(col("id") % 3, col("id") % 11)).as("arr"),
      (col("id") / 3.0).as("d"))
    val cacheDir = java.nio.file.Files
      .createTempDirectory("graft-serve-read").toString
    val srv = new Serve(TaskRegistry.of(Library.splitter), Seq(source), cacheDir)
    try {
      val base = s"http://localhost:${srv.boundPort}"
      assert(getDone(s"$base/view/0/0/").statusCode() == 200)
      val key = PlanCache.planKey(source)
      val files = Serve.partFiles(s"$cacheDir/$key.pages", ".parquet")
      val sizes = files.map(f => spark.read.parquet(f.getPath).count())
      assert(sizes.contains(4096L), s"no full 4096-row page file: $sizes")
      val cache = spark.read.parquet(s"$cacheDir/$key.pages")
      val ordered = cache.orderBy(stableOrder(cache): _*)
      def reference(p: Int): Seq[Row] = ordered
        .offset(p * Browse.PageSize).limit(Browse.PageSize).collect().toSeq
      // first, last, and both pages around every file boundary (the
      // page holding a file's last row and the next file's first)
      val bounds = sizes.scanLeft(0L)(_ + _).drop(1).dropRight(1)
      val last = ((24000 - 1) / Browse.PageSize).toInt
      val pages = (Seq(0, last) ++ bounds.flatMap(b =>
        Seq(b - 1, b).map(r => (r / Browse.PageSize).toInt))).distinct.sorted
      assert(pages.exists(p => bounds.exists(b =>
        p * Browse.PageSize < b && b < (p + 1) * Browse.PageSize)),
        s"no page straddles a file boundary: $pages over $bounds")
      val read = pages.map(p => p -> srv.pageRows(key, p))
      read.foreach { case (p, rows) =>
        assert(rows == reference(p), s"page $p differs from the Spark read")
      }
      val values = read.flatMap(_._2).flatMap(_.toSeq)
      assert(values.contains(null), "no null cell was compared")
      assert(values.exists(_.isInstanceOf[scala.collection.Seq[_]]),
        "no array cell was compared")
      // and the served HTML renders each cell as collect() renders it
      pages.foreach { p =>
        val html = get(s"$base/view/$p/0/", Wide).body()
        assert(cells(html) == reference(p).map(_.toSeq.map(String.valueOf)),
          s"page $p renders differently from the Spark read")
      }
    } finally srv.stop()
  }

  test("concurrent first views of distinct plans each serve their own rows") {
    // every plan builds its page reader at about the same time; each
    // must decode its own columns
    import spark.implicits._
    val source = (0 until 200).map(i =>
      (i.toLong, s"w$i x${i % 7} y${i * 13 % 101}")).toDF("index", "name")
    val cacheDir = java.nio.file.Files
      .createTempDirectory("graft-serve-concurrent").toString
    val srv = new Serve(TaskRegistry.of(Library.splitter, Library.removeNum),
      Seq(source), cacheDir)
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val views = Seq("name.split", "name.alpha", "name.split.alpha",
        "index.split").map { goal =>
        val q = get(s"$base/goal/$goal").headers().firstValue("Location")
          .orElseThrow().stripPrefix("/explore/")
        val pool = Executor.runPath(Seq(source), srv.decode(q))
        val frame = pool.last
        val expected = frame.orderBy(stableOrder(frame): _*)
          .limit(Browse.PageSize).collect().toSeq
          .map(_.toSeq.map(String.valueOf))
        (s"$base/view/0/${pool.size - 1}/$q", expected)
      } :+ ((s"$base/view/0/0/", source.orderBy(stableOrder(source): _*)
        .limit(Browse.PageSize).collect().toSeq.map(_.toSeq.map(String.valueOf))))
      assert(views.map(_._1).distinct.size == 5)
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(views.size)
      try {
        val served = views.map { case (url, _) =>
          pool.submit(() => {
            start.await()
            getDone(url, pollMs = 10, cookie = Wide)
          })
        }
        start.countDown()
        served.zip(views).foreach { case (f, (url, expected)) =>
          val r = f.get()
          assert(r.statusCode() == 200, s"$url: ${r.body()}")
          assert(cells(r.body()) == expected, s"$url served the wrong rows")
        }
      } finally pool.shutdownNow()
      // warm re-reads, now that every plan's reader exists
      views.foreach { case (url, expected) =>
        assert(cells(get(url, Wide).body()) == expected,
          s"$url served the wrong rows once every plan was read")
      }
    } finally srv.stop()
  }

  test("part files order by task index and file counter, not by name") {
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-parts")
    // the uuid part holds "-c0ffee": only the last "-c<digits>." counts
    val uuid = "0c4e1a9b-7f3d-4c2e-9a1b-c0ffee000001"
    val ordered = Seq("part-00000-%s-c000", "part-00000-%s-c999",
      "part-00000-%s-c1000", "part-00001-%s-c000", "part-99999-%s-c000",
      "part-100000-%s-c000").map(_.format(uuid))
    for (name <- ordered; ext <- Seq(".snappy.parquet", ".csv"))
      java.nio.file.Files.createFile(dir.resolve(name + ext))
    java.nio.file.Files.createFile(dir.resolve("_SUCCESS"))
    java.nio.file.Files.createFile(
      dir.resolve(s".part-00000-$uuid-c000.snappy.parquet.crc"))
    assert(Serve.partFiles(dir.toString, ".parquet").map(_.getName) ==
      ordered.map(_ + ".snappy.parquet"))
    assert(Serve.partFiles(dir.toString, ".csv").map(_.getName) ==
      ordered.map(_ + ".csv"))
  }

  /** The `q` of the planned path to `goal`, through the goal route. */
  private def goalQ(base: String, goal: String): String =
    get(s"$base/goal/$goal").headers().firstValue("Location")
      .orElseThrow().stripPrefix("/explore/")

  test("a cold first view writes only the page files and records their row count") {
    import spark.implicits._
    // a plan key hashes neither a local relation's rows nor its column
    // names: a row shape no other test uses keeps this key its own
    val source = Seq("cold one two", "three four five six").toDF("cold")
    val cacheDir = java.nio.file.Files
      .createTempDirectory("graft-serve-cold").toString
    val srv = new Serve(TaskRegistry.of(Library.splitter), Seq(source), cacheDir)
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val q = goalQ(base, "cold.split")
      val frame = Executor.runPath(Seq(source), srv.decode(q)).last
      val key = PlanCache.planKey(frame)
      val (view, jobs) = jobsDuring(getDone(s"$base/view/0/1/$q", pollMs = 20))
      assert(view.statusCode() == 200, view.body())
      assert(jobs <= 4, s"cold first view of a one-step plan ran $jobs Spark jobs")
      // no raw parquet copy, no CSV cache
      assert(new java.io.File(cacheDir).list().toSeq == Seq(s"$key.pages"))
      assert(PlanCache.poll(key).contains(PlanCache.Done(frame.count())))
      assert(frame.count() == 7)
    } finally srv.stop()
  }

  test("a zero-row frame renders an empty page 0 and a header-only CSV") {
    import spark.implicits._
    // (Int, String): a row shape of its own, as in the cold-view test
    val source = Seq.empty[(Int, String)].toDF("index", "nothing")
    val srv = new Serve(TaskRegistry.of(Library.splitter), Seq(source),
      java.nio.file.Files.createTempDirectory("graft-serve-empty").toString)
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val q = goalQ(base, "nothing.split")
      val view = getDone(s"$base/view/0/1/$q")
      assert(view.statusCode() == 200, view.body())
      assert(view.body().contains("page 0/0"), view.body())
      assert(cells(view.body()).isEmpty, view.body())
      val csv = getDone(s"$base/download/csv/1/$q")
      assert(csv.statusCode() == 200, csv.body())
      assert(csv.body() == "nothing.split\n")
    } finally srv.stop()
  }

  test("a failed materialization answers 500 naming the exception class and its message") {
    import spark.implicits._
    val boom = Task("boom", Vector(Req("x", Vector(Pat("(.+)")))),
      Vector(Vector("{x}.boom")))(in =>
      Seq(in.frames("x").select(
        raise_error(lit("boom")).cast("string").as(in.expects.head.head))))
    val source = Seq((0L, "fails")).toDF("index", "name")
    val srv = new Serve(TaskRegistry.of(boom), Seq(source),
      java.nio.file.Files.createTempDirectory("graft-serve-boom").toString)
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val view = getDone(s"$base/view/0/1/${goalQ(base, "name.boom")}")
      assert(view.statusCode() == 500, view.body())
      assert("""[a-z]+(\.[a-z]+)*\.[A-Z]\w*Exception: """.r
        .findFirstIn(view.body()).isDefined, view.body())
      assert(view.body().contains("boom"), view.body())
    } finally srv.stop()
  }

  test("the CSV download equals Spark's CSV write of the sorted frame, byte for byte") {
    // more than one 4,096-row page file; array, null, double and string
    // cells, strings with a comma, a quote, a newline and outer spaces
    val source = spark.range(9000).select(
      (col("id") % 13).as("k"),
      (col("id") / 7.0 - 300).as("d"),
      element_at(array(lit(null).cast("string"), lit("a,b"),
          lit("say \"hi\""), lit("line1\nline2"), lit("  padded  "), lit("")),
        (col("id") % 6 + 1).cast("int")).as("s"),
      when(col("id") % 7 === 0, lit(null))
        .otherwise(array(col("id") % 3, when(col("id") % 5 === 0, lit(null))
          .otherwise(col("id") % 11))).as("arr"))
    val cacheDir = java.nio.file.Files
      .createTempDirectory("graft-serve-csvbytes").toString
    val srv = new Serve(TaskRegistry.of(Library.splitter), Seq(source), cacheDir)
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val csv = getDone(s"$base/download/csv/0/")
      assert(csv.statusCode() == 200, csv.body())
      val key = PlanCache.planKey(source)
      assert(Serve.partFiles(s"$cacheDir/$key.pages", ".parquet").size >= 2)
      val ref = java.nio.file.Files.createTempDirectory("graft-serve-csvref")
        .resolve("csv").toString
      source.orderBy(stableOrder(source): _*)
        .select(source.columns.toSeq.map(c => col(s"`$c`").cast("string").as(c)): _*)
        .write.option("header", "false").option("nullValue", "null")
        .option("escape", "\"").csv(ref)
      val expected = Serve.partFiles(ref, ".csv")
        .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .mkString
      val (header, body) = csv.body().splitAt(csv.body().indexOf('\n') + 1)
      assert(header == "k,d,s,arr\n")
      assert(body == expected)
    } finally srv.stop()
  }

  test("a CSV download that fails mid-stream breaks the body, never a complete 200") {
    val source = spark.range(10000).select(col("id"),
      concat(lit("row "), col("id").cast("string")).as("s"))
    val cacheDir = java.nio.file.Files
      .createTempDirectory("graft-serve-midstream").toString
    val srv = new Serve(TaskRegistry.of(Library.splitter), Seq(source), cacheDir)
    try {
      val base = s"http://localhost:${srv.boundPort}"
      assert(getDone(s"$base/view/0/0/").statusCode() == 200)
      val files = Serve.partFiles(
        s"$cacheDir/${PlanCache.planKey(source)}.pages", ".parquet")
      assert(files.size >= 2, files)
      assert(files.last.delete())
      scala.util.Try(get(s"$base/download/csv/0/")) match {
        case scala.util.Failure(_: java.io.IOException) =>
        case scala.util.Failure(e) => fail(s"unexpected client error: $e")
        case scala.util.Success(r) =>
          assert(r.statusCode() != 200,
            s"complete 200 of ${r.body().length} chars after a read failure")
      }
      // the server keeps serving what it can still read
      assert(get(s"$base/view/0/0/").statusCode() == 200)
    } finally srv.stop()
  }
}
