package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{ColumnTransforms, MultimodalOps, SqlTransform}
import graft.sources.{CsvSource, FetchError, Page, PaginatedSource, SchemaTools}
import graft.streaming.Schedule
import graft.lake.LakeTable

/** ELT-parity surface: CSV interchange rules, schema tools, schedule DSL,
  * paginated source protocol, SQL transform, column transforms, multimodal
  * plumbing — mirrors the reference's own test corpus (SURVEY.md §5).
  */
class SourcesSpec extends SparkSuite {
  import spark.implicits._

  // widgets: the canonical all-types fixture (FIXTURES.md §3)
  private val widgetsSchema = StructType(Seq(
    StructField("id", LongType), StructField("price", DecimalType(10, 2)),
    StructField("ranking", DoubleType), StructField("name", StringType),
    StructField("active", BooleanType), StructField("launched", DateType),
    StructField("created_at", TimestampType), StructField("description", StringType)))

  test("csv round-trip preserves values and empty-string-as-NULL") {
    val dir = SparkTestBase.tmpDir("csv-rt")
    val df = Seq(
      (1L, BigDecimal("12.34"), 0.5, "w1", true,
        java.sql.Date.valueOf("2020-01-02"), Timestamp.valueOf("2020-01-02 03:04:05"), "desc"),
      (2L, BigDecimal("0.99"), -1.0e10, "w2", false,
        java.sql.Date.valueOf("1999-12-31"), Timestamp.valueOf("1999-12-31 23:59:59"), null))
      .toDF(widgetsSchema.fieldNames: _*)
      .select(widgetsSchema.fields.map(f => col(f.name).cast(f.dataType)): _*)
    CsvSource.write(df, s"$dir/w")
    val back = CsvSource.read(spark, s"$dir/w", widgetsSchema)
    assert(back.count() === 2)
    // NULL round-trip: empty description came back as real null (not "")
    assert(back.filter(col("description").isNull).count() === 1)
    val r1 = back.filter(col("id") === 1).collect()(0)
    assert(r1.getDecimal(1) === new java.math.BigDecimal("12.34"))
    assert(r1.getBoolean(4))
    assert(r1.getDate(5).toString === "2020-01-02")
    // float form parsed back losslessly
    assert(back.filter(col("id") === 2).collect()(0).getDouble(2) === -1.0e10)
  }

  test("csv interchange: null doubles, full float precision, quoted empties (reference rules)") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("csv-rt2")
    val full = 0.1234567890123456
    val df = Seq((1L, Some(full), Some("x")), (2L, None: Option[Double], None: Option[String]))
      .toDF("id", "v", "s")
    CsvSource.write(df, s"$dir/t")
    // raw text: a null double must be the EMPTY field (reference util.go
    // case nil -> ""), never the literal "NULL" java.util.Formatter renders
    val raw = spark.read.option("header", "true").option("nullValue", " never ")
      .csv(s"$dir/t").orderBy("id").collect()
    assert(raw(1).getString(1) == null || raw(1).getString(1) == "",
      s"null double wrote '${raw(1).getString(1)}'")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType), StructField("s", StringType)))
    val back = CsvSource.read(spark, s"$dir/t", schema).orderBy("id").collect()
    // shortest-round-trip: all 16 significant digits survive (the old %E
    // format truncated to 7)
    assert(back(0).getDouble(1) === full)
    assert(back(1).isNullAt(1))
    // quoted-empty fields load as NULL (EMPTYASNULL), not sentinel garbage
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/quoted"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/quoted/data.csv"), "id,name\n1,\"\"\n2,real\n3,\n")
    val q = CsvSource.read(spark, s"$dir/quoted",
      StructType(Seq(StructField("id", LongType), StructField("name", StringType))))
      .orderBy("id").collect()
    assert(q(0).isNullAt(1), s"quoted empty loaded as '${q(0).getString(1)}'")
    assert(q(1).getString(1) === "real")
    // readUntyped: the all-string [][]string contract means NO nulls —
    // quoted empties ("") and bare empties (3,) both load as "", never null,
    // never the sentinel
    val u = CsvSource.readUntyped(spark, s"$dir/quoted").orderBy("id").collect()
    assert(u(0).getString(1) === "") // quoted empty
    assert(u(2).getString(1) === "") // bare (unquoted) empty
    assert(u.forall(r => (0 until r.length).forall(!r.isNullAt(_))))
    assert(u.forall(r => !Option(r.getString(1)).exists(_.contains("never"))))
  }

  test("schema tools: parse/emit/ddl round-trip (widgets)") {
    assert(SchemaTools.parseType("integer").contains(LongType))
    assert(SchemaTools.parseType("decimal(10,2)").contains(DecimalType(10, 2)))
    assert(SchemaTools.parseType("string(255)").contains(StringType))
    assert(SchemaTools.parseType("geometry").isEmpty) // unsupported → skip
    val ddl = SchemaTools.createTableDdl("widgets", widgetsSchema)
    assert(ddl.contains("\"price\" DECIMAL(10,2)") && ddl.contains("\"active\" BOOLEAN"))
    // round-trip each emitted type string back
    widgetsSchema.fields.foreach { f =>
      assert(SchemaTools.parseType(SchemaTools.typeString(f.dataType)).isDefined, f.name)
    }
  }

  test("schema reconciliation: intersection + drift warnings") {
    val src = StructType(Seq(StructField("a", LongType), StructField("b", StringType),
      StructField("extra_src", DoubleType)))
    val dst = StructType(Seq(StructField("A", LongType), StructField("b", StringType),
      StructField("extra_dst", BooleanType)))
    val (imp, srcOnly, dstOnly) = SchemaTools.reconcile(src, dst)
    assert(imp.fieldNames.toSeq === Seq("A", "b"))
    assert(srcOnly === Seq("extra_src") && dstOnly === Seq("extra_dst"))
    val narrowing = SchemaTools.narrowingColumns(
      StructType(Seq(StructField("p", DecimalType(12, 2)))),
      StructType(Seq(StructField("p", DecimalType(10, 2)))))
    assert(narrowing === Seq("p"))
  }

  test("schedule DSL parses the reference's grammar") {
    assert(Schedule.parse("every 10 minutes").get.toMinutes === 10)
    assert(Schedule.parse("1 hour").get.toHours === 1)
    assert(Schedule.parse("every 2 days").get.toDays === 2)
    assert(Schedule.parse("fortnightly").isEmpty)
    assert(Schedule.toJson("every 5 minutes") === """{"every":300}""")
  }

  test("paginated source: offset walk, micro-batch boundary, retry vs fatal") {
    // 3 pages of 2 records, json bodies (≙ the httptest fixture, FIXTURES.md §6)
    def serve(flaky: Boolean): Long => Either[FetchError, Page] = {
      var failures = 0
      off => {
        if (flaky && off == 2 && failures < 2) { failures += 1; Left(FetchError.Http5xx(503)) }
        else if (off >= 6) Right(Page(Nil, None))
        else Right(Page(Seq(off, off + 1).map(i => s"""{"id":$i,"name":"r$i"}"""),
          if (off + 2 >= 6) None else Some(off + 2)))
      }
    }
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    // full drain streams per-batch into the sink (bounded driver memory)
    var drained = 0L
    val (b1, r1) = new PaginatedSource(serve(flaky = false))
      .drain(spark, schema, df => drained += df.count())
    assert(drained === 6 && r1 === 6)
    // retryable 5xx recovers transparently
    var drained2 = 0L
    new PaginatedSource(serve(flaky = true))
      .drain(spark, schema, df => drained2 += df.count())
    assert(drained2 === 6)
    // >pagesPerBatch pages arrive as MULTIPLE sink calls, each bounded by
    // pagesPerBatch — no whole-source accumulation on the driver
    var batchSizes = Vector.empty[Long]
    val (nb, nr) = new PaginatedSource(serve(flaky = false), pagesPerBatch = 1)
      .drain(spark, schema, df => batchSizes :+= df.count())
    assert(nb === 3 && nr === 6 && batchSizes === Vector(2L, 2L, 2L))
    // batch boundary respected
    val (recs, next) = new PaginatedSource(serve(flaky = false), pagesPerBatch = 1).pullBatch(0)
    assert(recs.size === 2 && next.contains(2L))
    // fatal 4xx throws immediately, typed with the classified error so the
    // CLI can map it to the reference's exit codes (Fail=3 / Retry=4)
    val fatal = new PaginatedSource(_ => Left(FetchError.Http4xx(401)))
    val e = intercept[graft.sources.FetchFailedException] { fatal.pullBatch(0) }
    assert(e.getMessage.contains("fatal") && e.error === FetchError.Http4xx(401))
    val flaky5 = new PaginatedSource(_ => Left(FetchError.Http5xx(503)), maxRetries = 1)
    assert(intercept[graft.sources.FetchFailedException] { flaky5.pullBatch(0) }.error.retryable)
    // a non-advancing continuation (server echoing a constant offset, or a
    // paginated url missing its {offset} token) must fail loudly — the old
    // behavior looped forever, committing a snapshot per lap in runApi
    val stuck = new PaginatedSource(
      off => Right(Page(Seq(s"""{"id":$off,"name":"x"}"""), Some(off))))
    val stuckErr = intercept[graft.sources.FetchFailedException] { stuck.pullBatch(0) }
    assert(stuckErr.getMessage.contains("non-advancing"))
  }

  test("endpoint config: auth headers, {offset} substitution, pagination, status classes") {
    import graft.sources.{Endpoint, EndpointConfig, HttpRequest, HttpResponse}
    // in-process fake ≙ the reference's own httptest server (api_test.go:204-250)
    val basicOk = "Basic " + java.util.Base64.getEncoder.encodeToString("user:pass".getBytes)
    var seenUrls = Vector.empty[String]
    def fake(req: HttpRequest): HttpResponse = {
      seenUrls :+= req.url
      val authed = req.headers.get("Authorization")
        .exists(a => a == basicOk || a == "Bearer 292b0e")
      if (!authed) HttpResponse(401, "")
      else if (req.url.contains("/500")) HttpResponse(500, "boom")
      else {
        val off = "offset=(\\d+)".r.findFirstMatchIn(req.url).map(_.group(1)).getOrElse("0")
        if (off == "0") HttpResponse(200,
          """{"items":[{"id":1,"name":"Santana"},{"id":2,"name":"David Grohl"}], "offset": 2}""")
        else HttpResponse(200,
          """{"items":[{"id":3,"name":"Jimmy Hendrix"},{"id":4,"name":"Travis Barker"}], "offset": null}""")
      }
    }
    val base = EndpointConfig(url = "http://t/items.json?offset={offset}",
      basicAuth = Some(("user", "pass")))
    // basic auth + pagination: both pages, URL token substituted per page
    val (recs, next) = Endpoint.source(base, fake).pullBatch(0)
    assert(recs.size === 4 && next.isEmpty)
    assert(seenUrls.take(2) ===
      Vector("http://t/items.json?offset=0", "http://t/items.json?offset=2"))
    // bearer header auth (api_header_auth.port)
    val bearer = base.copy(basicAuth = None,
      headers = Map("Authorization" -> "Bearer 292b0e"))
    assert(Endpoint.source(bearer, fake).pullBatch(0)._1.size === 4)
    // bad credentials → 401 fatal (Http4XXError: Fail)
    val bad = base.copy(basicAuth = Some(("user", "wrong")))
    val e = intercept[RuntimeException] { Endpoint.source(bad, fake).pullBatch(0) }
    assert(e.getMessage.contains("fatal"))
    // 5xx retryable: retried maxRetries times then thrown
    val before = seenUrls.size
    val err500 = base.copy(url = "http://t/500?offset={offset}")
    val e5 = intercept[RuntimeException] { Endpoint.source(err500, fake, maxRetries = 3).pullBatch(0) }
    // initial attempt + maxRetries retries
    assert(e5.getMessage.contains("retryable") && seenUrls.size === before + 4)
    // invalid body → fatal InvalidBody
    val eb = intercept[RuntimeException] {
      Endpoint.source(base, _ => HttpResponse(200, "not json")).pullBatch(0)
    }
    assert(eb.getMessage.contains("fatal"))
    // transport exception → NetworkError, retryable
    val en = intercept[RuntimeException] {
      Endpoint.source(base, _ => throw new java.io.IOException("conn reset"),
        maxRetries = 2).pullBatch(0)
    }
    assert(en.getMessage.contains("retryable"))
  }

  test("csv page bodies: header row + quoted fields + typed cast with empty=NULL") {
    import graft.sources.{Endpoint, EndpointConfig}
    val cfg = EndpointConfig(url = "http://t/w.csv", responseType = "csv")
    val body = "id,name,price,active\n" +
      "1,\"Fender, Strat\",12.34,true\n" +
      "2,\"say \"\"hi\"\"\",,false\n"
    val page = Endpoint.parsePage(cfg, body).toOption.get
    assert(page.records.size === 2 && page.nextOffset.isEmpty)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("price", DoubleType),
      StructField("active", BooleanType)))
    val df = Endpoint.pageFrame(spark, cfg, schema, page.records)
      .orderBy("id").collect()
    assert(df(0).getLong(0) === 1L && df(0).getString(1) === "Fender, Strat" &&
      df(0).getDouble(2) === 12.34 && df(0).getBoolean(3))
    // empty CSV cell → NULL (EMPTYASNULL), quoted "" escape preserved
    assert(df(1).getString(1) === """say "hi"""" && df(1).isNullAt(2))
    // bad response type classified as invalid body
    assert(Endpoint.parsePage(cfg.copy(responseType = "xml"), body).isLeft)
    // an all-empty multi-field row is a REAL all-NULL record (EMPTYASNULL);
    // only blank lines (one empty field) are trailing-newline artifacts
    val page2 = Endpoint.parsePage(cfg, "a,b\n1,x\n,\n\n").toOption.get
    assert(page2.records.size === 2)
    // a SINGLE-column row whose value is the quoted empty string is a real
    // record (all-NULL under EMPTYASNULL) — only zero-character lines are
    // artifacts (regression: an output-side emptiness filter used to eat it)
    val page3 = Endpoint.parsePage(cfg, "name\n\"\"\nbob\n\n").toOption.get
    assert(page3.records.size === 2, s"quoted-empty row must survive: ${page3.records}")
    val df3 = Endpoint.pageFrame(spark, cfg,
      StructType(Seq(StructField("name", StringType))), page3.records).collect()
    assert(df3.count(_.isNullAt(0)) === 1 && df3.exists(r => !r.isNullAt(0) && r.getString(0) == "bob"))
    // schema specs keep parameterized types whole across commas
    val dec = graft.config.JobRunner.parseSchemaSpec(
      "id:integer, price:decimal(18,4), name:string")
    assert(dec.fields.map(_.dataType).toSeq ===
      Seq(LongType, DecimalType(18, 4), StringType))
    // inconsistent field count = malformed body (Go encoding/csv ErrFieldCount),
    // never silently padded/truncated
    val badCount = Endpoint.parsePage(cfg, "a,b,c\n1,2,3\n4,5\n")
    assert(badCount.swap.toOption.get.isInstanceOf[graft.sources.FetchError.InvalidBody])
    // a non-empty value that fails the typed cast errors loudly — only the
    // EMPTY string maps to NULL
    val badVal = Endpoint.parsePage(cfg, "id,name,price,active\n1,x,abc,true\n").toOption.get
    // (ANSI mode: the cast itself throws CAST_INVALID_INPUT; non-ANSI: the
    // raise_error guard fires — either way the malformed value is named)
    val ex = intercept[Exception] {
      Endpoint.pageFrame(spark, cfg, schema, badVal.records).collect()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(ex).exists(t => Option(t.getMessage).exists(_.contains("abc"))))
    // retryable 4xx keeps its 4xx identity (not reported as Http5xx)
    val r4 = Endpoint.classify(cfg.copy(retryOn4xx = true), 404).get
    assert(r4 === graft.sources.FetchError.Http4xx(404, retryable = true) && r4.retryable)
    assert(!Endpoint.classify(cfg, 404).get.retryable)
  }

  test("json page bodies: string-encoded scalars load typed (api_integer_data_type parity)") {
    import graft.sources.{Endpoint, EndpointConfig}
    val cfg = EndpointConfig(url = "http://t/w", responseType = "json")
    // the reference's Transform uses int(item['id']) because sources send
    // quoted numbers — the typed load must coerce them, not null them (a
    // schema-first JSON parse silently nulls quoted scalars)
    val body = """{"items":[{"id":"123","price":"1.5"},{"id":456,"price":2.5},
      {"id":null,"price":null}]}"""
    val page = Endpoint.parsePage(cfg, body).toOption.get
    val schema = StructType(Seq(StructField("id", LongType), StructField("price", DoubleType)))
    val rows = Endpoint.pageFrame(spark, cfg, schema, page.records)
      .orderBy(col("id").asc_nulls_first).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1)) // JSON null stays NULL
    assert(rows(1).getLong(0) === 123L && rows(1).getDouble(1) === 1.5) // quoted
    assert(rows(2).getLong(0) === 456L && rows(2).getDouble(1) === 2.5) // bare
    // a malformed non-empty value errors loudly — JSON has no EMPTYASNULL
    val bad = Endpoint.parsePage(cfg, """{"items":[{"id":"abc","price":1}]}""").toOption.get
    val ex = intercept[Exception] {
      Endpoint.pageFrame(spark, cfg, schema, bad.records).collect()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(ex).exists(t => Option(t.getMessage).exists(_.contains("abc"))))
  }

  test("api-format extract-load: paginated json endpoint → MERGE-loaded LakeTable") {
    import graft.config.{JobRunner, JobSpec}
    import graft.sources.{HttpRequest, HttpResponse}
    val dir = SparkTestBase.tmpDir("api-el")
    // 3 pages of 2 widgets via {offset} pagination (api_offset_pagination.port)
    def fake(req: HttpRequest): HttpResponse = {
      val off = "offset=(\\d+)".r.findFirstMatchIn(req.url).map(_.group(1).toInt).getOrElse(0)
      val items = (off until math.min(off + 2, 6))
        .map(i => s"""{"id":$i,"name":"w$i"}""").mkString(",")
      val next = if (off + 2 < 6) s""","offset":${off + 2}""" else ""
      HttpResponse(200, s"""{"items":[$items]$next}""")
    }
    def spec(strategy: String) = JobSpec.parse(s"""{
      "source": {"format": "api", "url": "http://t/items?offset={offset}",
        "schema": "id:integer,name:string", "pagesPerBatch": 1},
      "destination": {"root": "$dir/dest", "numBuckets": 4},
      "tables": {"t": {"loadStrategy": "$strategy", "primaryKey": ["id"],
        "transforms": [{"column": "name", "ops": ["upper"]}]}}}""")
    val r = JobRunner.run(spark, spec("Full"), "t", transport = fake)
    assert(r.rowsLoaded === 6)
    val out = LakeTable(s"$dir/dest")(spark).read()
    assert(out.filter(!col("_deleted")).count() === 6)
    assert(out.filter(col("name") === "W3").count() === 1)
    // Incremental re-run upserts by pk — still 6 rows, not 12
    // (≙ api_test.go:151-159: matching pre-existing rows are replaced)
    JobRunner.run(spark, spec("Incremental"), "t", transport = fake)
    val live = graft.cdc.CdcPipeline.liveState(LakeTable(s"$dir/dest")(spark))
    assert(live.count() === 6)
    // preview never creates/commits
    val dir2 = SparkTestBase.tmpDir("api-prev")
    val rp = JobRunner.run(spark,
      spec("Full").copy(destination = graft.config.DestinationSpec(s"$dir2/dest", 4)),
      "t", preview = true, transport = fake)
    assert(rp.previewed && !LakeTable(s"$dir2/dest")(spark).exists)
  }

  test("extract-api: endpoint drained to reference-rule CSV without a load") {
    import graft.config.{JobRunner, JobSpec}
    import graft.sources.{HttpRequest, HttpResponse}
    val dir = SparkTestBase.tmpDir("api-ex")
    def fake(req: HttpRequest): HttpResponse = {
      val off = "offset=(\\d+)".r.findFirstMatchIn(req.url).map(_.group(1).toInt).getOrElse(0)
      val items = (off until math.min(off + 2, 6))
        .map(i => s"""{"id":$i,"name":"w$i"}""").mkString(",")
      val next = if (off + 2 < 6) s""","offset":${off + 2}""" else ""
      HttpResponse(200, s"""{"items":[$items]$next}""")
    }
    val spec = JobSpec.parse(s"""{
      "source": {"format": "api", "url": "http://t/items?offset={offset}",
        "schema": "id:integer,name:string", "pagesPerBatch": 1},
      "destination": {"root": "$dir/unused", "numBuckets": 4},
      "tables": {"t": {"loadStrategy": "Full",
        "transforms": [{"column": "name", "ops": ["upper"]}]}}}""")
    val n = JobRunner.extractApi(spark, spec, "t", s"$dir/out", transport = fake)
    assert(n === 6)
    // no table was created — extract only
    assert(!LakeTable(s"$dir/unused")(spark).exists)
    // the CSV reads back with the shaped (transformed) values, all 6 rows
    val back = graft.sources.CsvSource.read(spark, s"$dir/out",
      StructType(Seq(StructField("id", LongType), StructField("name", StringType))))
    assert(back.count() === 6)
    assert(back.filter(col("name") === "W3").count() === 1)
  }

  test("api drain resumes from the checkpointed page offset after a crash") {
    import graft.config.{JobRunner, JobSpec}
    import graft.sources.{HttpRequest, HttpResponse}
    val dir = SparkTestBase.tmpDir("api-resume")
    @volatile var failing = true
    @volatile var pulls = Vector.empty[Int]
    def fake(req: HttpRequest): HttpResponse = {
      val off = "offset=(\\d+)".r.findFirstMatchIn(req.url).map(_.group(1).toInt).getOrElse(0)
      pulls :+= off
      if (failing && off == 4) return HttpResponse(404, "") // dies mid-drain
      val items = (off until math.min(off + 2, 8))
        .map(i => s"""{"id":$i,"name":"w$i"}""").mkString(",")
      val next = if (off + 2 < 8) s""","offset":${off + 2}""" else ""
      HttpResponse(200, s"""{"items":[$items]$next}""")
    }
    val spec = JobSpec.parse(s"""{
      "source": {"format": "api", "url": "http://t/items?offset={offset}",
        "schema": "id:integer,name:string", "pagesPerBatch": 1},
      "destination": {"root": "$dir/dest", "numBuckets": 4},
      "tables": {"t": {"loadStrategy": "Full", "primaryKey": ["id"]}}}""")
    // run 1 dies at page offset 4 — but batches 0-2 and 2-4 are committed,
    // and the snapshot records the next offset to pull
    intercept[RuntimeException] { JobRunner.run(spark, spec, "t", transport = fake) }
    val t = LakeTable(s"$dir/dest")(spark)
    assert(t.currentSnapshot.get.sourceOffsets("api:t:Full") === 4L)
    assert(graft.cdc.CdcPipeline.liveState(t).count() === 4)
    // run 2 resumes from the recorded offset: pages before 4 are NOT
    // re-pulled, the completed drain clears the marker, state is complete,
    // and the interrupted Full load was NOT re-truncated
    failing = false
    val before = pulls.size
    val r = JobRunner.run(spark, spec, "t", transport = fake)
    assert(pulls.drop(before).forall(_ >= 4), s"re-pulled early pages: ${pulls.drop(before)}")
    assert(t.currentSnapshot.get.sourceOffsets("api:t:Full") === -1L)
    assert(graft.cdc.CdcPipeline.liveState(t).count() === 8)
    // the marker is STRATEGY-SCOPED: a different strategy never resumes it.
    // Plant an in-flight Incremental marker and run Full — it must pull
    // from page 0 (a Full refresh that skipped pages would be silently
    // incomplete)
    val snap0 = t.currentSnapshot.get
    t.replaceFiles(snap0, Set.empty, Nil, None, Some(graft.lake.Epoch("test", -1L,
      snap0.watermarkLsn, snap0.sourceOffsets + ("api:t:Incremental" -> 6L))))
    val b2 = pulls.size
    JobRunner.run(spark, spec, "t", transport = fake)
    assert(pulls.drop(b2).headOption.contains(0), s"Full resumed a foreign marker: ${pulls.drop(b2)}")
  }

  test("api-format extract-load: csv response body end-to-end (api_csv.port)") {
    import graft.config.{JobRunner, JobSpec}
    import graft.sources.{HttpRequest, HttpResponse}
    val dir = SparkTestBase.tmpDir("api-csv")
    val body = "id,price,name,active\n1,12.34,w1,true\n2,,w2,false\n3,0.99,w3,true\n"
    val fake: HttpRequest => HttpResponse = _ => HttpResponse(200, body)
    val spec = JobSpec.parse(s"""{
      "source": {"format": "api", "url": "http://t/widgets.csv",
        "responseType": "csv",
        "schema": "id:integer,price:double,name:string,active:boolean"},
      "destination": {"root": "$dir/dest", "numBuckets": 4},
      "tables": {"w": {"loadStrategy": "Full", "primaryKey": ["id"]}}}""")
    val r = JobRunner.run(spark, spec, "w", transport = fake)
    assert(r.rowsLoaded === 3)
    val out = LakeTable(s"$dir/dest")(spark).read().orderBy("id").collect()
    assert(out(0).getAs[Double]("price") === 12.34)
    assert(out(1).isNullAt(out(1).fieldIndex("price"))) // empty = NULL
    assert(out(2).getAs[Boolean]("active"))
  }

  test("transforms see RAW values: format-changing transform under typed and inferred schemas") {
    import graft.config.{JobRunner, JobSpec}
    import graft.sources.{HttpRequest, HttpResponse}
    val dir = SparkTestBase.tmpDir("api-rawts")
    val fake: HttpRequest => HttpResponse = _ => HttpResponse(200,
      """{"items":[{"id":1,"ts":"1690000000"},{"id":2,"ts":"1690000100"}]}""")
    def spec(withSchema: Boolean) = JobSpec.parse(s"""{
      "source": {"format": "api", "url": "http://t/items"${
        if (withSchema) """, "schema": "id:integer,ts:timestamp"""" else ""}},
      "destination": {"root": "$dir/dest", "numBuckets": 4},
      "tables": {"t": {"loadStrategy": "Full", "primaryKey": ["id"],
        "transforms": [{"column": "ts",
          "ops": ["sql:timestamp_seconds(cast(`ts` as bigint))"]}]}}}""")
    // declared-schema run: typing the raw epoch string as TIMESTAMP before
    // the transform converts it would raise on perfectly valid data
    assert(JobRunner.run(spark, spec(true), "t", transport = fake).rowsLoaded === 2)
    // destination-INFERRED run (no source.schema): same rule — the dest's
    // timestamp type applies AFTER the transform, not to the raw page
    assert(JobRunner.run(spark, spec(false), "t", transport = fake).rowsLoaded === 2)
    val out = graft.cdc.CdcPipeline.liveState(LakeTable(s"$dir/dest")(spark))
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.filter(col("ts").isNull).count() === 0)
  }

  test("a fractional page offset fails loudly instead of silently flooring") {
    import graft.sources.{Endpoint, EndpointConfig, HttpResponse}
    val cfg = EndpointConfig(url = "http://t/items?offset={offset}")
    val e = intercept[RuntimeException] {
      Endpoint.source(cfg, _ => HttpResponse(200,
        """{"items":[{"id":1}],"offset":100.7}""")).pullBatch(0)
    }
    assert(e.getMessage.contains("non-numeric"),
      s"100.7 must not floor to a resume point the server never issued: ${e.getMessage}")
    // whole-number doubles stay accepted (servers emit 100.0)
    @volatile var calls = 0
    val (recs, next) = Endpoint.source(EndpointConfig(url = "http://t/i?offset={offset}"),
      _ => { calls += 1
        if (calls == 1) HttpResponse(200, """{"items":[{"id":1}],"offset":100.0}""")
        else HttpResponse(200, """{"items":[{"id":2}]}""") }).pullBatch(0)
    assert(recs.size === 2 && next.isEmpty)
  }

  test("a bare carriage return inside an unquoted CSV field is data, not a row break") {
    import graft.sources.{Endpoint, EndpointConfig, HttpResponse}
    val cfg = EndpointConfig(url = "http://t/w.csv", responseType = "csv")
    val (recs, _) = Endpoint.source(cfg,
      _ => HttpResponse(200, "id,name\n1,ab\rcd\n2,plain\r\n")).pullBatch(0)
    assert(recs.size === 2)
    assert(recs.head.contains("ab\\rcd"), // JSON-escaped \r preserved in the field
      s"bare \\r must survive as field bytes (Go encoding/csv parity): ${recs.head}")
    assert(recs(1).contains("plain") && !recs(1).contains("\\r"),
      "\\r\\n stays a plain row break")
  }

  test("http transport: real socket via JDK client against a localhost server") {
    import graft.sources.{Endpoint, EndpointConfig}
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var seenAuth: Option[String] = None
    @volatile var seenUa: Option[String] = None
    server.createContext("/items", { ex =>
      seenAuth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      seenUa = Option(ex.getRequestHeaders.getFirst("User-Agent"))
      val off = Option(ex.getRequestURI.getQuery).getOrElse("")
        .split("=").lastOption.filter(_.nonEmpty).map(_.toInt).getOrElse(0)
      val body = (if (off == 0)
        """{"items":[{"id":1},{"id":2}],"offset":2}"""
      else """{"items":[{"id":3}],"offset":null}""").getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    server.createContext("/missing", { ex =>
      ex.sendResponseHeaders(404, -1); ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val cfg = EndpointConfig(url = s"http://127.0.0.1:$port/items?offset={offset}",
        basicAuth = Some(("user", "pass")))
      val (recs, next) = Endpoint.source(cfg, Endpoint.httpTransport).pullBatch(0)
      assert(recs.size === 3 && next.isEmpty)
      // auth + UA headers actually crossed the socket
      assert(seenAuth.exists(_.startsWith("Basic ")) && seenUa.contains("graft"))
      // 404 classified fatal through the real transport too
      val miss = EndpointConfig(url = s"http://127.0.0.1:$port/missing")
      val e = intercept[RuntimeException] {
        Endpoint.source(miss, Endpoint.httpTransport).pullBatch(0)
      }
      assert(e.getMessage.contains("fatal"))
    } finally server.stop(0)
  }

  test("sql transform: CTAS + atomic swap (times_by_day_of_week analogue)") {
    spark.read.parquet(s"$sfDir/events.parquet").createOrReplaceTempView("ev_v")
    val dest = LakeTable(SparkTestBase.tmpDir("ctas"))(spark)
    SqlTransform(spark,
      "SELECT cast(ts as date) AS day, count(*) AS n FROM ev_v GROUP BY 1", dest,
      keyCols = Seq("day"), appId = "t")
    assert(dest.read().count() > 0)
    // re-run replaces (swap semantics), not appends
    val n1 = dest.read().count()
    SqlTransform(spark,
      "SELECT cast(ts as date) AS day, count(*) AS n FROM ev_v GROUP BY 1", dest,
      keyCols = Seq("day"), appId = "t")
    assert(dest.read().count() === n1)
  }

  test("column transform chains + computed columns (fixture semantics)") {
    val df = Seq((1L, 0.5, "2020-01-02 03:04:05", """{"time_zone":"MT"}"""))
      .toDF("id", "value", "created_at", "options")
      .withColumn("created_at", col("created_at").cast("timestamp"))
    val out = ColumnTransforms(df,
      transforms = Seq(
        // ≙ transform_column_and_change_type.port: int(value*100)
        ColumnTransforms.ColumnSpec("value", Seq("multiply:100"), castTo = Some("integer")),
        // ≙ deserialize_json_column.port: dig(json.loads(options), 'time_zone')
        ColumnTransforms.ColumnSpec("options", Seq("json:$.time_zone"))),
      computed = Seq(
        // ≙ compute_column.port: strftime('%F', created_at)
        ColumnTransforms.ComputedSpec("day", "date_format(created_at, 'yyyy-MM-dd')")))
    val r = out.collect()(0)
    assert(r.getAs[Long]("value") === 50L)
    assert(r.getAs[String]("options") === "MT")
    assert(r.getAs[String]("day") === "2020-01-02")
  }

  test("multimodal: typed records, batched feature extraction, frame sampling") {
    val raw = Seq(
      (1L, "image", "img-bytes-aaaaaaaa".getBytes, 64, 64, 0L),
      (2L, "video", "video-bytes-0123456789abcdef".getBytes, 320, 240, 5000L))
      .toDF("media_id", "kind", "bytes", "width", "height", "durationMs")
    val media = MultimodalOps.asMedia(raw)
    assert(media.count() === 2)
    val feats = MultimodalOps.extractFeatures(media, dim = 16)
    val f = feats.collect().sortBy(_.media_id)
    assert(f.forall(_.features.length === 16))
    // deterministic: same bytes → same features
    val again = MultimodalOps.extractFeatures(media, dim = 16).collect().sortBy(_.media_id)
    assert(f.zip(again).forall { case (a, b) => a.features.sameElements(b.features) })
    val frames = MultimodalOps.sampleFrames(media, n = 4)
    assert(frames.count() === 4) // only the video, 4 frames
    assert(frames.select("frame_sha").distinct().count() === 4)
  }
}
