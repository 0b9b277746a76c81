package graft.planner

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  GenericInternalRow, RowOrdering}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructType}

import graft.sources.Sources.PlanCache

/** The reference's Flask browser as a dependency-free HTTP layer
  * (JDK `com.sun.net.httpserver`; the engine itself gains no web
  * framework). Routes mirror /root/reference/frame_tasks/serve.py and
  * serve_view_df.py:
  *
  *   - `GET /explore/{q}` — the action page (serve.py:110-147):
  *     frame pool with view links, numbered further actions each
  *     linking to the state-with-that-action, and a back link.
  *   - `GET /view/{page}/{index}/{q}` — a stably-ordered page of
  *     frame `index` (serve_view_df.py:75-157): first hit submits an
  *     async materialization and answers a refresh-me wait page (the
  *     reference's data_wait.html + Celery delay, serve.py:57-77);
  *     once cached, pages are served from the parquet cache with
  *     first/last/negative page arithmetic and prev/next nav.
  *   - `GET /download/csv/{index}/{q}` — the frame as CSV
  *     (serve_view_df.py:160-176).
  *
  * State lives in the URL exactly as in the reference: `q` is the
  * base64url of the [[PlanJson]] action path (the reference
  * URL-encodes its pickled action list, browse.py `from_url_q`), so
  * the server holds no per-user state and any view is bookmarkable.
  * Results are computed once per logical plan via [[PlanCache]]'s
  * plan-hash key — the reference's mmh3-keyed pickle cache
  * (serve.py:38-44). A frame's first view writes the plan exactly
  * once: sorted under the stable total order (all columns asc)
  * straight into page files of at most [[PageFileRows]] rows, whose
  * footers give the row count. Every later request reads those files
  * and does no Spark work:
  *
  *   - the URL's `(q, index)` maps to its plan key and columns in a
  *     memo, so the action path is not replayed and Catalyst does not
  *     re-analyze it to recompute the key;
  *   - a page is decoded on the driver from the 1-2 bounded page files
  *     its rows overlap (Spark's own parquet reader, schema from the
  *     footer) — no Spark job, no schema inference;
  *   - a CSV download is generated from the page files when it is
  *     requested (the reference also renders it from the one
  *     materialized frame, serve_view_df.py:160-176), one file in
  *     memory at a time.
  *
  * Sockets run with TCP_NODELAY: the JDK server writes the headers and
  * the body as separate segments, and with Nagle on every response
  * body waited for the client's delayed ACK (~40 ms).
  */
final class Serve(
    registry: TaskRegistry,
    sources: Seq[DataFrame],
    cacheDir: String,
    port: Int = 0) {

  private val ViewMaxColWidth = 30 // serve_view_df.py:27

  private[planner] def encode(path: Seq[Planner.Action]): String =
    Base64.getUrlEncoder.withoutPadding
      .encodeToString(PlanJson.toJson(path).getBytes(UTF_8))

  private[planner] def decode(q: String): Vector[Planner.Action] =
    if (q.isEmpty) Vector.empty
    else PlanJson.fromJson(registry,
      new String(Base64.getUrlDecoder.decode(q), UTF_8))

  /** Rebuild the session by replaying the URL's action path — the
    * frames stay LAZY plans; nothing executes until a view asks.
    */
  private def session(path: Vector[Planner.Action]): Browse.Session =
    path.foldLeft(Browse.open(registry, sources)) { (s, a) =>
      Browse.Session(s.registry, s.pool ++ Executor.callTask(s.pool, a),
        Planner.apply(s.state, a), s.path :+ a)
    }

  private def esc(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;")
    .replace(">", "&gt;").replace("\"", "&quot;")

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "text/html; charset=utf-8"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** The reference's stylesheet, inlined (static/styles/mainpage.css
    * plus the bits planner.html pulls from Bootstrap that the page
    * actually uses) — no CDN fetch, no framework: the engine's UI is
    * one self-contained HTML response.
    */
  private val Style =
    """<style>
      |body { font-family: sans-serif; margin: 1rem 2rem; }
      |h1 { font-size: 1.5rem; } h2 { font-size: 1.2rem; }
      |ul, ol { line-height: 1.6; }
      |.frame-pool a.frame { display: inline-block; margin: 0.2rem;
      |  padding: 0.3rem 0.6rem; border: 1px solid #4a7; border-radius: 4px;
      |  text-decoration: none; }
      |.cancel { display: inline-block; padding: 0.3rem 0.6rem;
      |  background: #e9b949; border-radius: 4px; color: black;
      |  text-decoration: none; }
      |.task-name { font-weight: bold; }
      |</style>""".stripMargin

  /** [[Browse.describe]] as HTML with every bound column marked by a
    * colored double overline unique to that column across all listed
    * actions — the reference's matched-column coding mechanism
    * (state.tpl's `text-decoration: <color> double overline`,
    * serve.py:125-129 extras_ui.get_unique_colors), with evenly
    * spaced hues replacing its random palette so colors are stable
    * across renders.
    */
  private def describeHtml(a: Planner.Action,
      hue: Map[String, Int]): String = {
    val binds = a.bindings.toSeq.sortBy(_._1).map { case (arg, b) =>
      val cols = b.cols.map { c =>
        s"""<span class="source-column" style="text-decoration: """ +
          s"""hsl(${hue(c.column)},70%,40%) double overline; """ +
          s"""text-decoration-thickness: 2px">${esc(c.column)}</span>"""
      }.mkString(",")
      s"${esc(arg)}=#${b.frameIdx}($cols)"
    }.mkString(" ")
    s"""<span class="task-name">${esc(a.task.name)}</span> $binds -&gt; """ +
      esc(a.outputs.map(_.mkString("[", ",", "]")).mkString(" "))
  }

  /** The explore page, structured as the reference's planner.html:
    * a "Current" section (the frame pool as outlined buttons, the
    * applied-action history, and the Cancel-last-task button — its
    * `back` link) and a "Next" section of plannable actions.
    */
  private def explorePage(q: String): String = {
    val s = session(decode(q))
    val actsList = Browse.actions(s)
    val colsUse = (actsList ++ s.path)
      .flatMap(_.bindings.valuesIterator.flatMap(_.cols.map(_.column)))
      .distinct.sorted
    val hue = colsUse.zipWithIndex.map { case (c, i) =>
      c -> i * 360 / math.max(1, colsUse.size)
    }.toMap
    val frames = s.pool.zipWithIndex.map { case (df, i) =>
      s"""<span><a class="frame" href="/view/0/$i/$q">frame #$i: """ +
        s"""(${esc(df.columns.mkString(", "))})</a>""" +
        s""" <a href="/download/csv/$i/$q">csv</a></span>"""
    }.mkString("\n")
    val applied = s.path.reverse.map { a =>
      s"<li>${describeHtml(a, hue)}</li>"
    }.mkString("\n")
    val acts = actsList.zipWithIndex.map { case (a, i) =>
      val nq = encode(s.path :+ a)
      s"""<li>[$i] <a href="/explore/$nq">${describeHtml(a, hue)}</a></li>"""
    }.mkString("\n")
    val cancel =
      if (s.path.isEmpty) ""
      else s"""<p><a class="cancel" """ +
        s"""href="/explore/${encode(s.path.dropRight(1))}">""" +
        "Cancel last task</a></p>"
    s"""<html><head><title>Explore Frame-Tasks</title>$Style</head>
       |<body><h1>Current</h1>
       |<div class="frame-pool">$frames</div>
       |<h2>Tasks</h2><ol class="actions">$applied</ol>
       |$cancel
       |<h1>Next</h1><ul>$acts</ul>
       |</body></html>""".stripMargin
  }

  /** Rows per sorted page-cache file: bounds what any single page
    * render ever reads or collects (<= 2 files span a page), however
    * many rows the frame has. 4096 = 136 UI pages per file.
    */
  private val PageFileRows = 4096

  private def stableOrder(df: DataFrame) =
    df.columns.toSeq.map(c => col(s"`$c`").asc)

  /** Write `df` once, under the stable total order (all columns asc),
    * into `<key>.pages`: range-partitioned by the sort and split into
    * files of <= [[PageFileRows]] rows. Part-file order
    * ([[Serve.partFiles]]) IS the global row order, so page p lives in
    * the one (or two, at a boundary) files its row span overlaps — a
    * deep page costs one bounded file read, not a `limit(n)` collect
    * (the round-4 audit's last scale-killer, Browse.scala's previewTop
    * applied to page "last"). The same files feed [[streamCsv]].
    * Returns the row count, summed from the page-file footers: no
    * count job.
    */
  private def buildPageCache(df: DataFrame, key: String): Long = {
    // the .pages directory is about to be overwritten with new part
    // files — a manifest computed over the old listing must not
    // survive the rebuild (stale file names 500 until restart)
    manifests.remove(key)
    df.orderBy(stableOrder(df): _*).write.mode("overwrite")
      .option("maxRecordsPerFile", PageFileRows.toLong)
      .parquet(s"$cacheDir/$key.pages")
    manifest(key).files.map(_.rows).sum
  }

  /** This instance's page files for `key` exist on disk. The PlanCache
    * status map is JVM-GLOBAL while cacheDir is per-instance, so a
    * Done recorded by another Serve over the same plan does NOT mean
    * our pages exist — trusting it blindly would serve empty 200s.
    * Done only counts together with this check; when it fails,
    * [[rebuildLocal]] fills this cacheDir.
    */
  private def cachesReady(key: String): Boolean =
    new java.io.File(s"$cacheDir/$key.pages", "_SUCCESS").exists()

  /** key -> "failed: …" for local page-cache rebuilds; a key is
    * in-flight while mapped to "running".
    */
  private val localBuilds =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build this instance's page files for a plan another instance
    * already materialized (global status Done, local files absent):
    * same async posture as a fresh submit — the request gets the wait
    * page while a daemon thread fills the local cacheDir.
    */
  private def rebuildLocal(df: DataFrame, key: String): Unit = {
    val st = localBuilds.get(key)
    if (st != null && st.startsWith("failed")) {
      // report the failure once, then clear the entry so the NEXT
      // request re-triggers the build — a transient failure (disk
      // blip, executor loss) must not brick the frame for the
      // server's lifetime
      localBuilds.remove(key, st)
      throw new RuntimeException(st)
    }
    if (localBuilds.putIfAbsent(key, "running") == null) {
      val t = new Thread(() => {
        try {
          buildPageCache(df, key)
          localBuilds.remove(key)
        } catch {
          case e: Throwable =>
            Serve.log.error(s"page-cache rebuild of $key failed", e)
            localBuilds.put(key, s"failed: $e")
        }
      }, s"graft-pagecache-$key")
      t.setDaemon(true)
      t.start()
    }
  }

  /** A served view: the plan key of frame `index` of a URL's action
    * path, and the frame's column names.
    */
  private case class Frame(key: String, cols: Array[String])

  /** `(q, index)` -> its [[Frame]], recorded as soon as the plan key is
    * known. `q` fixes the action path, and registry and sources are
    * fixed per instance, so an entry never goes stale: a warm page, a
    * CSV download or a 202-poll skips the path replay and the Catalyst
    * analysis [[PlanCache.planKey]] runs.
    */
  private val knownFrames =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Frame]()

  /** The served frame of `(q, index)` and its row count, or None while
    * the async page-file build is still running. A remembered frame
    * whose pages are ready or still building is answered from the
    * status alone; anything else takes [[replayFrame]].
    */
  private def servedFrame(q: String, index: Int): Option[(Frame, Long)] = {
    val known = knownFrames.get((q, index))
    val status = if (known == null) None else PlanCache.poll(known.key)
    status match {
      case Some(PlanCache.Done(n)) if cachesReady(known.key) => Some((known, n))
      case Some(PlanCache.Running) => None
      case _ => replayFrame(q, index)
    }
  }

  /** [[servedFrame]] from scratch: replay the URL's path, key the plan
    * and remember the key, then submit the page-file build if nobody
    * has. The count comes from the Done status the build recorded, so
    * a page render runs no per-request counting job (round-4 audit
    * item (b)).
    */
  private def replayFrame(q: String, index: Int): Option[(Frame, Long)] = {
    val df = session(decode(q)).pool(index)
    val key = PlanCache.planKey(df)
    val frame = Frame(key, df.columns)
    knownFrames.put((q, index), frame)
    PlanCache.poll(key) match {
      case Some(PlanCache.Done(n)) if cachesReady(key) => Some((frame, n))
      case Some(PlanCache.Done(_)) =>
        rebuildLocal(df, key)
        None
      case Some(PlanCache.Failed(e)) =>
        throw new RuntimeException(s"materialization failed: $e")
      case Some(PlanCache.Running) => None
      case None =>
        PlanCache.submit(spark, key, () => buildPageCache(df, key))
        None
    }
  }

  private lazy val spark = sources.head.sparkSession

  private case class PageFile(path: String, bytes: Long, rows: Long, start: Long)

  /** A key's page files in global row order, their schema, and what
    * decodes them on the driver: Spark's parquet reader, the stable
    * order's row ordering and the Row encoder.
    */
  private case class Pages(files: Vector[PageFile], schema: StructType,
      read: PartitionedFile => Iterator[InternalRow],
      order: Ordering[InternalRow], encoder: ExpressionEncoder[Row])

  private val manifests =
    new java.util.concurrent.ConcurrentHashMap[String, Pages]()

  /** Sorted page files with their row counts and cumulative start
    * offsets, and the schema Spark recorded in their footers — read
    * driver-side once per key, no Spark job, no schema inference.
    */
  private def manifest(key: String): Pages =
    manifests.computeIfAbsent(key, _ => {
      val conf = spark.sparkContext.hadoopConfiguration
      val footers = Serve.partFiles(s"$cacheDir/$key.pages", ".parquet").map { f =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f.getPath), conf))
        try (f, reader.getRecordCount, reader.getFileMetaData
          .getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        finally reader.close()
      }
      val schema = footers.headOption.fold(new StructType())(f =>
        DataType.fromJson(f._3).asInstanceOf[StructType])
      val starts = footers.scanLeft(0L)(_ + _._2)
      val files = footers.zip(starts).map { case ((f, n, _), start) =>
        PageFile(f.getPath, f.length, n, start)
      }
      // a fresh conf per reader: the reader writes its requested schema
      // into the conf it is given and broadcasts it, so building on the
      // shared conf races with concurrent builds for other keys
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, schema, new StructType(), schema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        new Configuration(conf))
      Pages(files, schema, read,
        RowOrdering.createNaturalAscendingOrdering(schema.map(_.dataType)),
        ExpressionEncoder(schema).resolveAndBind())
    })

  /** Rows the page reader has decoded. Pages are read on the driver,
    * outside Spark's input metrics; this is what a page read cost.
    */
  private[planner] val rowsDecoded = new java.util.concurrent.atomic.LongAdder

  /** One page file's rows, decoded on the driver in file order. The
    * reader reuses its row objects: a row is valid until the next one.
    */
  private def readFile(pages: Pages, f: PageFile): Iterator[InternalRow] = {
    rowsDecoded.add(f.rows)
    pages.read(PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(f.path), 0, f.bytes, fileSize = f.bytes))
  }

  /** Rows [page*PageSize, +PageSize) of the sorted cache: only the 1-2
    * files overlapping that span are decoded, on the driver, each
    * re-sorted under the stable order (they are single bounded files)
    * and cut to the page — at most 2 x [[PageFileRows]] rows decoded,
    * EXACTLY the page's rows kept, no Spark job. Cells come out as
    * `collect()` would give them.
    */
  private[planner] def pageRows(key: String, page: Int): Seq[Row] = {
    val start = page.toLong * Browse.PageSize
    val end = start + Browse.PageSize
    val pages = manifest(key)
    val toRow = pages.encoder.createDeserializer()
    pages.files
      .filter(f => f.start < end && f.start + f.rows > start)
      .flatMap { f =>
        val rows = readFile(pages, f).map(_.copy()).toArray
        java.util.Arrays.sort(rows, pages.order)
        val lo = (start - f.start).max(0).toInt
        val hi = (end - f.start).min(f.rows).toInt
        rows.slice(lo, hi).map(toRow)
      }
  }

  private def waitPage: String =
    """<html><head><meta http-equiv="refresh" content="1"></head>
      |<body><p>computing… (auto-refreshes)</p></body></html>""".stripMargin

  private def renderCell(v: Any, colw: Int): String = {
    val s = String.valueOf(v)
    esc(if (s.length > colw) s.take(colw) + "..." else s)
  }

  /** The `colw` cookie (serve_view_df.py:55-72): current display
    * column width, adjusted ±10 by the col-width endpoints.
    */
  private def cookieColw(ex: HttpExchange): Int =
    Option(ex.getRequestHeaders.getFirst("Cookie")).toSeq
      .flatMap(_.split(";")).map(_.trim)
      .collectFirst { case c if c.startsWith("colw=") =>
        c.stripPrefix("colw=").toIntOption }
      .flatten.getOrElse(ViewMaxColWidth)

  private def viewPage(pageRaw: String, index: Int, q: String,
      colw: Int): (Int, String) =
    servedFrame(q, index) match {
      case None => (202, waitPage)
      case Some((frame, n)) =>
        val npages = math.max(1, math.ceil(n.toDouble / Browse.PageSize).toInt)
        val page0 = pageRaw.toLowerCase match {
          case "first" => 0
          case "last" => -1
          case p => p.toInt
        }
        val page = if (page0 < 0) npages + page0 else math.min(page0, npages - 1)
        val rows = pageRows(frame.key, page)
        val head = frame.cols
          .map(c => s"<th>${esc(c)}</th>").mkString("<tr>", "", "</tr>")
        val body = rows.map(r =>
          r.toSeq.map(v => s"<td>${renderCell(v, colw)}</td>")
            .mkString("<tr>", "", "</tr>")).mkString("\n")
        // bounded nav window (serve_view_df.py:44-52, NAV_PAGE_COUNT):
        // current +/- 2 plus first/last — constant-size HTML however
        // many pages the frame has
        val navPages = ((0 +: (page - 2 to page + 2) :+ (npages - 1))
          .filter(p => p >= 0 && p < npages)).distinct.sorted
        val nav = navPages.map { p =>
          val label =
            if (p == 0) "First" else if (p == npages - 1) "Last" else s"$p"
          if (p == page) s"<b>$label</b>"
          else s"""<a href="/view/$p/$index/$q">$label</a>"""
        }.mkString(" ")
        (200,
          s"""<html><body><h1>frame #$index page $page/${npages - 1}</h1>
             |<table>$head
             |$body</table>
             |<p>pages: $nav</p>
             |<p><a href="/explore/$q">back</a>
             | <a href="/download/csv/$index/$q">download csv</a></p>
             |</body></html>""".stripMargin)
    }

  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Generate the frame's CSV from its page files and stream it: a
    * header line, then each page file in part order, its rows in file
    * order (the sorted write's), decoded on the driver, every column
    * cast to string by Catalyst's `Cast` (session SQL conf and time
    * zone) and written by Spark's own CSV generator with the options a
    * `df.write.csv` download used (`header=false`, `nullValue=null`,
    * `escape="`) — the same bytes, ZERO Spark jobs, memory bounded by
    * one page file. Never collects the frame
    * (serve_view_df.py:167 does — the one reference behavior
    * deliberately not reproduced). The body is chunked; a failure
    * after the headers propagates, so the connection drops without
    * the terminating chunk and the client sees a broken body, never a
    * complete 200. Returns false while the page files are still being
    * built.
    */
  private def streamCsv(ex: HttpExchange, q: String, index: Int): Boolean =
    servedFrame(q, index) match {
      case None => false
      case Some((frame, _)) =>
        val cols = frame.cols
        // filename = longest column name (serve_view_df.py:171)
        val fname = cols.maxBy(_.length).replaceAll("[^A-Za-z0-9._-]", "_")
        val pages = manifest(frame.key)
        val conf = spark.sessionState.conf
        ex.getResponseHeaders.set("Content-Type", "text/csv; charset=utf-8")
        ex.getResponseHeaders.set("Content-Disposition",
          s"""attachment; filename="$fname.csv"""")
        ex.sendResponseHeaders(200, 0)
        val out = new java.io.OutputStreamWriter(ex.getResponseBody, UTF_8)
        out.write(cols.map(csvCell).mkString(",") + "\n")
        SQLConf.withExistingConf(conf) {
          val casts = pages.schema.fields.zipWithIndex.map { case (f, i) =>
            Cast(BoundReference(i, f.dataType, f.nullable), StringType,
              Some(conf.sessionLocalTimeZone))
          }
          val gen = new UnivocityGenerator(
            StructType(pages.schema.map(_.copy(dataType = StringType))), out,
            new CSVOptions(Map("header" -> "false", "nullValue" -> "null",
              "escape" -> "\""), conf.csvColumnPruning, conf.sessionLocalTimeZone))
          val line = new GenericInternalRow(casts.length)
          pages.files.foreach(f => readFile(pages, f).foreach { row =>
            casts.indices.foreach(i => line.update(i, casts(i).eval(row)))
            gen.write(line)
          })
          gen.close()
        }
        ex.close()
        true
    }

  private val server = Serve.listen(port)
  server.createContext("/", (ex: HttpExchange) => {
    try {
      val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
      segs match {
        case Nil | List("explore") =>
          respond(ex, 200, explorePage(""))
        case List("explore", q) =>
          respond(ex, 200, explorePage(q))
        case "goal" :: cols :: rest if rest.length <= 1 =>
          // plan a full path to the comma-separated goal columns from
          // the current state and redirect to the resulting explore
          // URL — the CLI's `goal` command (Browse.scala) over HTTP
          val q = rest.headOption.getOrElse("")
          val s = session(decode(q))
          Planner.findPath(s.registry, s.pool.map(_.columns.toVector),
            Vector(cols.split(",").toVector)) match {
            case None =>
              respond(ex, 404,
                s"<html><body>goal ${esc(cols)} unreachable</body></html>")
            case Some(path) =>
              ex.getResponseHeaders.set("Location",
                s"/explore/${encode(s.path ++ path)}")
              ex.sendResponseHeaders(302, -1)
              ex.close()
          }
        case List("view", "increase_col_width", x) =>
          val next = (cookieColw(ex) + x.toInt).max(1)
          ex.getResponseHeaders.set("Set-Cookie", s"colw=$next")
          respond(ex, 200, next.toString, "text/plain; charset=utf-8")
        case List("view", "decrease_col_width", x) =>
          val next = (cookieColw(ex) - x.toInt).max(1)
          ex.getResponseHeaders.set("Set-Cookie", s"colw=$next")
          respond(ex, 200, next.toString, "text/plain; charset=utf-8")
        case List("view", page, index, q) =>
          val (code, body) = viewPage(page, index.toInt, q, cookieColw(ex))
          respond(ex, code, body)
        case List("view", page, index) =>
          val (code, body) = viewPage(page, index.toInt, "", cookieColw(ex))
          respond(ex, code, body)
        case List("download", "csv", index, q) =>
          if (!streamCsv(ex, q, index.toInt))
            respond(ex, 202, waitPage)
        case List("download", "csv", index) =>
          if (!streamCsv(ex, "", index.toInt))
            respond(ex, 202, waitPage)
        case _ => respond(ex, 404, "<html><body>not found</body></html>")
      }
    } catch {
      case e: Throwable =>
        Serve.log.error(s"${ex.getRequestMethod} ${ex.getRequestURI} failed", e)
        // a body already under way cannot turn into a 500: rethrown, the
        // server drops the connection without ending the body
        if (ex.getResponseCode != -1) throw e
        respond(ex, 500, s"<html><body>${esc(String.valueOf(e.getMessage))}</body></html>")
    }
  })
  server.start()

  /** The bound port (ephemeral when constructed with port 0). */
  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = server.stop(0)
}

object Serve {
  // TCP_NODELAY (see the class doc). The JDK server reads this once,
  // when its config class loads at the first server the JVM creates,
  // so it is set here, before [[listen]] can run.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Serve])

  private def listen(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress(port), 0)

  private val PartName = """part-(\d+)-.*-c(\d+)\..*""".r

  /** The `part-*<suffix>` files Spark wrote into `dir`, in write order:
    * by the (task index, file counter) parsed from
    * `part-%05d-<uuid>-c%03d.<ext>`. Both numbers outgrow their
    * padding, so a name sort puts `c1000` before `c999` and
    * `part-100000` before `part-99999`.
    */
  private[planner] def partFiles(dir: String, suffix: String): Vector[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toVector.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(suffix))
      .sortBy(_.getName match {
        case PartName(task, file) => (task.toLong, file.toLong)
      })

  /** `runMain graft.planner.Serve [sfDir] [port]` — serves the
    * documents exploration the same way [[Browse]] drives stdin.
    */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val source = Browse.mainSource(spark, args.headOption)
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val cacheDir = java.nio.file.Files
      .createTempDirectory("graft-serve-cache").toString
    val srv = new Serve(Library.registry, Seq(source), cacheDir, port)
    println(s"serving on http://localhost:${srv.boundPort}/explore/ (ctrl-c to stop)")
    Thread.currentThread.join()
  }
}
