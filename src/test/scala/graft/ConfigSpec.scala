package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.config.{JobRunner, JobSpec}
import graft.lake.{CommitConflictException, LakeTable, Snapshot}

/** Config-file frontend parity with the reference's .port corpus (the
  * fixtures under test resources `port/`, in the reference's testdata
  * layout, and database_configuration.go:100-152), plus the commit CAS and
  * the yaml transform (deserialize_ruby_yaml_column.port). */
class ConfigSpec extends SparkSuite {
  implicit val sqlc = spark.implicits
  import sqlc._

  /** Root of the `.port` fixture corpus on the test classpath. */
  private lazy val portRoot = Paths.get(getClass.getResource("/port").toURI)
  private def portFixture(rel: String): String = Files.readString(portRoot.resolve(rel))

  private def writeSpec(dir: String, name: String, body: String): String = {
    val p = s"$dir/$name"
    Files.writeString(Paths.get(p), body)
    p
  }

  private def eventsSpec(dest: String, strategy: String = "Full",
      tableKey: String = "events"): String = s"""{
    "source": {"format": "parquet", "path": "$sfDir/events.parquet"},
    "destination": {"root": "$dest", "numBuckets": 4},
    "tables": {
      "$tableKey": {
        "loadStrategy": "$strategy",
        "primaryKey": ["event_id"],
        "modifiedAtColumn": "ts",
        "goBackHours": 36,
        "columns": ["event_id", "event_type", "ts"],
        "transforms": [{"column": "event_type", "ops": ["upper"]}]
      }
    }
  }"""

  test("missing table entry falls back to '*' wildcard, then to default Full") {
    val spec = JobSpec.parse(
      """{"source":{"format":"parquet","path":"p"},
         "destination":{"root":"r"},
         "tables":{"*":{"loadStrategy":"ModifiedOnly"}}}""")
    assert(spec.extractFor("anything").loadStrategy === "ModifiedOnly") // star.port
    val bare = JobSpec.parse(
      """{"source":{"format":"parquet","path":"p"},"destination":{"root":"r"}}""")
    // ≙ "Missing extract configuration, assuming Full" (database_configuration.go:138-141)
    assert(bare.extractFor("t").loadStrategy === "Full")
    assert(bare.extractFor("t").columns === Seq("*"))
  }

  test("$VAR / ${VAR} env interpolation in spec strings (F7)") {
    val env = Map("DATA_DIR" -> "/d", "TBL" -> "events").get _
    val spec = JobSpec.parse(
      """{"source":{"format":"parquet","path":"$DATA_DIR/${TBL}.parquet"},
         "destination":{"root":"$DATA_DIR/out"}}""", env)
    assert(spec.source.path === "/d/events.parquet")
    assert(spec.destination.root === "/d/out")
    // unset var expands empty, like os.ExpandEnv
    assert(JobSpec.interpolate("x$NOPE_VAR_42/y", _ => None) === "x/y")
    // values land inside quoted JSON strings: a password with '"' or '\'
    // must arrive intact, not corrupt the document or splice sibling fields
    val hostile = Map("PW" -> """p"ss\w0rd""", "NL" -> "a\nb")
    val spec2 = JobSpec.parse(
      """{"source":{"format":"api","basicAuthPassword":"$PW","url":"$NL"},
         "destination":{"root":"/out"}}""", hostile.get)
    assert(spec2.source.basicAuthPassword === Some("""p"ss\w0rd"""))
    assert(spec2.source.url === "a\nb")
  }

  test("full extract-load through a spec file: projection + transform applied") {
    val dir = SparkTestBase.tmpDir("cfg-full")
    val dest = s"$dir/dest"
    val p = writeSpec(dir, "job.json", eventsSpec(dest))
    val r = JobRunner.run(spark, JobSpec.load(spark, p), "events")
    assert(!r.previewed && r.rowsLoaded > 0)
    val out = LakeTable(dest)(spark).read()
    assert(out.columns.toSet === Set("event_id", "event_type", "ts"))
    assert(out.filter(col("event_type") =!= upper(col("event_type"))).count() === 0)
  }

  test("preview runs the plan but leaves the destination untouched (main.go:29-33)") {
    val dir = SparkTestBase.tmpDir("cfg-prev")
    val dest = s"$dir/dest"
    val p = writeSpec(dir, "job.json", eventsSpec(dest))
    // preview against an absent table: no create happens
    val r0 = JobRunner.run(spark, JobSpec.load(spark, p), "events", preview = true)
    assert(r0.previewed && !LakeTable(dest)(spark).exists)
    // preview against an existing table: version unchanged
    JobRunner.run(spark, JobSpec.load(spark, p), "events")
    val v = LakeTable(dest)(spark).latestVersion
    val r1 = JobRunner.run(spark, JobSpec.load(spark, p), "events", preview = true)
    assert(r1.previewed && LakeTable(dest)(spark).latestVersion === v)
  }

  test("ModifiedOnly upserts only the lookback window by primary key") {
    val dir = SparkTestBase.tmpDir("cfg-mo")
    val dest = s"$dir/dest"
    // Full load tagged 'full', then ModifiedOnly tagged 'recent'
    def tagged(strategy: String, tag: String) = s"""{
      "source": {"format": "parquet", "path": "$sfDir/events.parquet"},
      "destination": {"root": "$dest", "numBuckets": 4},
      "tables": {"events": {
        "loadStrategy": "$strategy", "primaryKey": ["event_id"],
        "modifiedAtColumn": "ts", "goBackHours": 36,
        "columns": ["event_id", "ts"],
        "computed": [{"column": "tag", "sqlExpr": "'$tag'"}]}}}"""
    JobRunner.run(spark,
      JobSpec.parse(tagged("Full", "full")), "events")
    JobRunner.run(spark,
      JobSpec.parse(tagged("ModifiedOnly", "recent")), "events")
    val out = LakeTable(dest)(spark).read()
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val expectRecent = events
      .join(broadcast(events.agg((max(col("ts")) - expr("INTERVAL 36 HOURS")).as("c"))))
      .filter(col("ts") > col("c")).count()
    assert(out.filter(col("tag") === "recent").count() === expectRecent)
    assert(out.count() === events.count()) // upsert, not append
  }

  test("Incremental merges new rows by pk, pre-existing rows survive (api_test.go:151-159)") {
    val dir = SparkTestBase.tmpDir("cfg-inc")
    // destination pre-seeded with row 9
    val dest = LakeTable(s"$dir/dest")(spark)
    dest.create(Seq((9L, "old")).toDF("id", "name").schema, 4, "seed")
    dest.overwrite(Seq((9L, "old")).toDF("id", "name"), Seq("id"), "seed")
    // source delivers 2 new rows (and its own version of nothing else)
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode("overwrite").parquet(s"$dir/src.parquet")
    val spec = JobSpec.parse(s"""{
      "source": {"format": "parquet", "path": "$dir/src.parquet"},
      "destination": {"root": "$dir/dest", "numBuckets": 4},
      "tables": {"t": {"loadStrategy": "Incremental", "primaryKey": ["id"]}}}""")
    JobRunner.run(spark, spec, "t")
    val out = LakeTable(s"$dir/dest")(spark).read()
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(out === Set((9L, "old"), (1L, "a"), (2L, "b"))) // 3 rows, row 9 survives
  }

  test("--full forces the Full strategy over the spec (main.go:38-39)") {
    val dir = SparkTestBase.tmpDir("cfg-force")
    val dest = s"$dir/dest"
    // a ModifiedOnly spec loads only the lookback window...
    val p = writeSpec(dir, "job.json", eventsSpec(dest, strategy = "ModifiedOnly"))
    JobRunner.run(spark, JobSpec.load(spark, p), "events")
    val partial = LakeTable(dest)(spark).read().count()
    val total = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(partial < total)
    // ...forceFull overrides to a complete refresh (database_test.go:219-239)
    val r = JobRunner.run(spark, JobSpec.load(spark, p), "events", forceFull = true)
    assert(r.strategy === "Full")
    assert(LakeTable(dest)(spark).read().count() === total)
  }

  test("schedule field parses and exports the reference's JSON shape") {
    val spec = JobSpec.parse(
      """{"source":{"format":"parquet","path":"p"},
         "destination":{"root":"r"},
         "tables":{"events":{"schedule":"every 10 minutes"}}}""")
    val s = spec.extractFor("events").schedule
    assert(s.contains("every 10 minutes"))
    assert(graft.streaming.Schedule.toJson(s.get) === """{"every":600}""")
  }

  test("yaml transform parses the reference's Ruby-YAML options column") {
    // the exact fixture value from /root/reference/database_test.go:171
    val rubyYaml = "--- !ruby/hash-with-ivars:ActionController::Parameters\n" +
      "elements:\n  append: 'Hello!'\n  prepend: ''\n  custom_message_text: ''\n" +
      "  click_tracking: &1 []\nivars:\n  :@permitted: false\n" +
      "  :@converted_arrays: !ruby/object:Set\n    hash:\n      *1: true\n"
    val df = Seq((1L, rubyYaml)).toDF("id", "options")
    val out = graft.operators.ColumnTransforms(df,
      transforms = Seq(graft.operators.ColumnTransforms.ColumnSpec("options",
        Seq("strip_after:\nivars:", "yaml"))),
      computed = Seq(graft.operators.ColumnTransforms.ComputedSpec("append",
        "get_json_object(options, '$.elements.append')")))
    // ≙ extractAppendFromOptions → "Hello!" (database_test.go:174)
    assert(out.select("append").as[String].collect() === Array("Hello!"))
    // tag surgery is POSITIONAL: a quoted value merely MENTIONING a ruby tag
    // keeps its text (the old bare-pattern strip mutated the payload)
    val mention = Seq((1L, "note: \"see !ruby/object:Set docs\"\n")).toDF("id", "y")
      .select(graft.functions.YamlFunctions.yamlToJson(col("y")).as("j"))
      .as[String].collect()(0)
    assert(mention.contains("see !ruby/object:Set docs"), mention)
  }

  test("secrets: encrypt/decrypt round-trip, fresh nonces, delete, bad key fails") {
    import graft.config.Secrets
    val dir = SparkTestBase.tmpDir("secrets")
    val f = java.nio.file.Paths.get(s"$dir/secrets.txt.enc")
    val key = Secrets.generateSecretKey()
    assert(key.length === 64 && key.matches("[A-Za-z0-9]+"))
    Secrets.init(f, key)
    Secrets.set(f, "USER_TOKEN", "SAMPLE1joxLCJTYWx0Ijoie", key) // secrets_test.go values
    Secrets.set(f, "OTHER", "x=with=equals", key)
    assert(Secrets.read(f, key) ===
      Map("USER_TOKEN" -> "SAMPLE1joxLCJTYWx0Ijoie", "OTHER" -> "x=with=equals"))
    // fresh nonce per encryption: the IDENTICAL plaintext twice (set appends
    // a line encrypting "$key=$value", so same key + same value = same
    // plaintext) must yield different ciphertexts — a reused GCM nonce would
    // produce byte-identical lines here and is catastrophic for AES-GCM
    Secrets.set(f, "DUP", "same", key); Secrets.set(f, "DUP", "same", key)
    val lines = java.nio.file.Files.readAllLines(f)
    assert(lines.get(lines.size - 1) !== lines.get(lines.size - 2))
    Secrets.delete(f, "OTHER", key)
    assert(!Secrets.read(f, key).contains("OTHER"))
    // wrong key cannot decrypt (GCM auth failure)
    intercept[Exception] { Secrets.read(f, Secrets.generateSecretKey()) }
    // unset env fails fast like the reference
    intercept[IllegalStateException] { Secrets.envSecret() }
  }

  test("concurrent committers racing one version slot: exactly one wins (FS CAS)") {
    val root = SparkTestBase.tmpDir("cas-race")
    val t = LakeTable(root)(spark)
    val schema = Seq((1L, "a")).toDF("k", "v").schema
    t.create(schema, 2, "race")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val gate = new java.util.concurrent.CountDownLatch(1)
    val futures = (1 to 8).map { i => Future {
      gate.await()
      try {
        t.commit(Snapshot(1L, 0L, schema.json, 2, Nil, s"app-$i", i.toLong, -1L, Map.empty), 0L)
        Right(i)
      } catch { case _: CommitConflictException => Left(i) }
    }}
    gate.countDown()
    val results = Await.result(Future.sequence(futures), 60.seconds).toList
    assert(results.count(_.isRight) === 1)
    // the published manifest is the winner's, intact
    val s = t.snapshot(1L)
    assert(results.collect { case Right(i) => s"app-$i" }.head === s.appId)
    // the version hint is the winner's too (losers throw BEFORE the hint
    // write), and resolution through it lands on the raced slot
    assert(t.latestVersion === 1L)
  }

  test("new scaffold: pad skeleton + example spec round-trips through JobSpec.load") {
    val pad = SparkTestBase.tmpDir("pad")
    Main.run(spark, List("new", pad))
    Seq("config", "sources/apis", "sources/databases", "transforms", "tmp").foreach { d =>
      assert(Files.isDirectory(Paths.get(pad, d)), s"missing $d")
    }
    // ≙ main.go:184-211: .keep everywhere except sources/ and config/
    assert(Files.exists(Paths.get(pad, "transforms/.keep")))
    assert(!Files.exists(Paths.get(pad, "config/.keep")))
    assert(Files.readString(Paths.get(pad, ".gitignore")) === "tmp/\n")
    assert(Files.readString(Paths.get(pad, "config/databases.yml")).startsWith("connections:"))
    assert(Files.readString(Paths.get(pad, "config/schedule.port")).contains("ExtractLoadAPI"))
    // the starter JobSpec parses and interpolates
    val spec = JobSpec.load(spark, s"$pad/sources/apis/example_api.json",
      env = Map("EXAMPLE_API_TOKEN" -> "tok").get _)
    assert(spec.source.format === "api" && spec.tables.contains("widgets"))
    assert(spec.source.headers("Authorization") === "Bearer tok")
    assert(spec.tables("widgets").primaryKey === Seq("id"))
  }

  test("create-destination-table-from-config-file: dest created from TableDefinition, no load") {
    val dir = SparkTestBase.tmpDir("cdtcf")
    val specPath = writeSpec(dir, "spec.json", s"""{
      "source": {"format": "api", "url": "http://t/x?offset={offset}",
        "schema": "id:bigint,name:string,price:decimal(18,4)"},
      "destination": {"root": "$dir/dest", "numBuckets": 8},
      "tables": {"t": {"loadStrategy": "Full", "primaryKey": ["id"]}}}""")
    Main.run(spark, List("create-destination-table-from-config-file", specPath, "t"))
    val t = LakeTable(s"$dir/dest")(spark)
    assert(t.exists && t.read().count() === 0)
    val s = t.currentSnapshot.get
    assert(s.schema === JobRunner.parseSchemaSpec("id:bigint,name:string,price:decimal(18,4)"))
    assert(s.keyCols === Seq("id") && s.numBuckets === 8)
    // refuses to clobber an existing destination
    intercept[RuntimeException] {
      Main.run(spark, List("create-destination-table-from-config-file", specPath, "t"))
    }
  }

  test("db-terminal: piped stdin SQL runs over registered lake views") {
    val dir = SparkTestBase.tmpDir("dbterm")
    val t = LakeTable(s"$dir/widgets")(spark)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    t.create(df.schema, 2, "t", Seq("id"))
    t.overwrite(df, Seq("id"), "t")
    val in = new java.io.ByteArrayInputStream(
      "select count(*) as n from widgets\nnot valid sql\nexit\n".getBytes("UTF-8"))
    val oldIn = System.in
    val out = new java.io.ByteArrayOutputStream()
    try {
      System.setIn(in)
      Console.withOut(new java.io.PrintStream(out)) {
        Main.run(spark, List("db-terminal", dir))
      }
    } finally System.setIn(oldIn)
    val printed = out.toString("UTF-8")
    assert(printed.contains("widgets"))
    // the count query ran (2 rows) and the bad line errored without aborting
    assert(printed.contains("2") && printed.contains("error:"))
  }

  test("db-terminal views are live: a commit between two queries is visible") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = SparkTestBase.tmpDir("dbterm-live")
    val t = LakeTable(s"$dir/widgets")(spark)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    t.create(df.schema, 2, "t", Seq("id"))
    t.overwrite(df, Seq("id"), "t")
    val pin = new java.io.PipedInputStream(8192)
    val pw = new java.io.PrintStream(new java.io.PipedOutputStream(pin), true, "UTF-8")
    val out = new java.io.ByteArrayOutputStream()
    val oldIn = System.in
    try {
      System.setIn(pin)
      val term = Future {
        Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
          Main.run(spark, List("db-terminal", dir))
        }
      }
      pw.println("select count(*) as n1 from widgets")
      // the terminal is single-threaded: once n1's result is printed it is
      // blocked on readLine, so the commit below lands strictly between the
      // two queries
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!out.toString("UTF-8").contains("n1") && System.nanoTime() < deadline)
        Thread.sleep(50)
      t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"), Seq("id"), "t")
      pw.println("select count(*) as n2 from widgets")
      pw.println("exit")
      Await.result(term, 60.seconds)
    } finally System.setIn(oldIn)
    val printed = out.toString("UTF-8")
    val afterN2 = printed.substring(printed.indexOf("n2").max(0))
    assert(printed.contains("|2"), s"first query should see 2 rows:\n$printed")
    assert(afterN2.contains("|3"), s"second query must see the new commit:\n$printed")
  }

  test(".port subset reader: reference DB fixtures translate to JobSpec") {
    import graft.config.{PortSpec, PortParseException}
    import graft.operators.ColumnTransforms.{ColumnSpec, ComputedSpec}
    def port(name: String) = portFixture(s"databases/$name")
    // full.port / default.port / missing.port / star.port — strategy shapes
    assert(PortSpec.toJobSpec(port("full.port")).tables("widgets").loadStrategy === "Full")
    assert(PortSpec.toJobSpec(port("default.port")).tables("widgets").loadStrategy === "Full")
    assert(PortSpec.toJobSpec(port("missing.port")).tables("notwidgets").loadStrategy === "Full")
    val mo = PortSpec.toJobSpec(port("modified_only.port")).tables("objects")
    assert(mo.loadStrategy === "ModifiedOnly" && mo.primaryKey === Seq("id") &&
      mo.modifiedAtColumn === Some("updated_at") && mo.goBackHours === 36)
    val star = PortSpec.toJobSpec(port("star.port"))
    assert(star.extractFor("anything").loadStrategy === "ModifiedOnly")
    // lambda translation: value fns → scalar ops, row fns → Catalyst SQL
    assert(PortSpec.toJobSpec(port("transform_column.port")).tables("widgets").transforms ===
      Seq(ColumnSpec("ranking", Seq("multiply:100"), None)))
    assert(PortSpec.toJobSpec(port("transform_column_and_change_type.port"))
      .tables("widgets").transforms ===
      Seq(ColumnSpec("ranking", Seq("multiply:100"), Some("integer"))))
    assert(PortSpec.toJobSpec(port("compute_column.port")).tables("widgets").computed ===
      Seq(ComputedSpec("created_date", "date_format(`created_at`, 'yyyy-MM-dd')", Some("date"))))
    assert(PortSpec.toJobSpec(port("deserialize_json_column.port"))
      .tables("actions").computed ===
      Seq(ComputedSpec("time_zone", "get_json_object(`options`, '$.time_zone')", None)))
    assert(PortSpec.toJobSpec(port("deserialize_ruby_yaml_column.port"))
      .tables("actions").computed ===
      Seq(ComputedSpec("append",
        "get_json_object(yaml_to_json(substring_index(`options`, '\\nivars:', 1)), '$.elements.append')",
        None)))
    // INLINE lambda in the chain (transform_column_mysql.port) — same idiom
    // translation as a named def
    assert(PortSpec.toJobSpec(port("transform_column_mysql.port")).tables("objects").computed ===
      Seq(ComputedSpec("updated_on", "date_format(`updated_at`, 'yyyy-MM-dd')", Some("date"))))
    // strftime: literal text with letters is single-quoted (bare letters are
    // LIVE Java pattern chars — '%Y year' would otherwise render era/weekday),
    // and the pattern-quote chars are escaped for the SQL string literal
    def strfPort(f: String): String =
      s"def d(row):\n\treturn row['ts'].strftime(\"$f\")\n" +
      "Table(\"t\").LoadStrategy(Full).ComputeColumn(\"c\", d, \"VARCHAR(32)\")"
    assert(PortSpec.toJobSpec(strfPort("%Y year")).tables("t").computed.head.sqlExpr ===
      """date_format(`ts`, 'yyyy\' year\'')""")
    // unknown directives fail loudly instead of leaking '%b' into the pattern
    val badDir = intercept[PortParseException] { PortSpec.toJobSpec(strfPort("%b %Y")) }
    assert(badDir.getMessage.contains("%b"))
  }

  test(".port subset reader: fail-loudly contract on near-miss constructs") {
    import graft.config.{PortSpec, PortParseException}
    import graft.operators.ColumnTransforms.ComputedSpec
    // a multi-statement TransformColumn helper must fail loudly, not silently
    // translate only its return line (dropping the strip would change data)
    val multi = intercept[PortParseException] {
      PortSpec.toJobSpec(
        "def clean(value):\n\tvalue = value.strip()\n\treturn value.upper()\n" +
        "Table(\"t\").TransformColumn(\"c\", clean)")
    }
    assert(multi.getMessage.contains("multi-statement"))
    // Transform(parse_items) resolves the NAMED function, not the magic name
    val named = PortSpec.toJobSpec(
      "def parse_items(data):\n\treturn data['rows']\n" +
      "def Transform(data):\n\treturn data['items']\n" +
      "Get(\"http://x/y\")\nTransform(parse_items)")
    assert(named.source.itemsField === "rows")
    val unknownFn = intercept[PortParseException] {
      PortSpec.toJobSpec("Get(\"http://x/y\")\nTransform(parse_items)")
    }
    assert(unknownFn.getMessage.contains("parse_items"))
    // ErrorHandling: a quoted KEY is valid Starlark (starlark.String either
    // way) — but a quoted POLICY fails the reference's Atoi coercion, so it
    // must fail here too (reference parity over leniency)
    val quotedKey = PortSpec.toJobSpec(
      "Get(\"http://x/y\")\nErrorHandling({'Http4XXError': Retry})")
    assert(quotedKey.source.retryOn4xx)
    assert(intercept[PortParseException] {
      PortSpec.toJobSpec("Get(\"http://x/y\")\nErrorHandling({Http4XXError: 'Retry'})")
    }.getMessage.contains("quoted"))
    // unknown classes/policies fail loudly instead of defaulting false…
    assert(intercept[PortParseException] {
      PortSpec.toJobSpec("Get(\"http://x/y\")\nErrorHandling({Http4xxError: Retry})")
    }.getMessage.contains("Http4xxError"))
    assert(intercept[PortParseException] {
      PortSpec.toJobSpec("Get(\"http://x/y\")\nErrorHandling({Http4XXError: Ignore})")
    }.getMessage.contains("Ignore"))
    // …and a policy contradicting the engine's FIXED behavior (the reference
    // would honor it via handleAPIError) is a loud error, not a silent drop
    assert(intercept[PortParseException] {
      PortSpec.toJobSpec("Get(\"http://x/y\")\nErrorHandling({Http5XXError: Fail})")
    }.getMessage.contains("fixed behavior"))
    // non-contradicting restatements of the fixed behavior still parse
    assert(!PortSpec.toJobSpec(
      "Get(\"http://x/y\")\nErrorHandling({Http5XXError: Retry, InvalidBodyError: Fail})")
      .source.retryOn4xx)
    // an explicit CSV-idiom Transform directive must not be overridden by a
    // leftover magic-name def (the fallback is guarded on directive presence)
    val csvKeep = PortSpec.toJobSpec(
      "def parse_header(data):\n\theaders = data.pop(0)\n" +
      "\treturn [{headers[i]: row[i] for i in range(len(headers))} for row in data]\n" +
      "def Transform(data):\n\treturn data['widgets']\n" +
      "Get(\"http://x/y\")\nResponseType(\"csv\")\nTransform(parse_header)")
    assert(csvKeep.source.itemsField === "items") // default CSV parse, not the leftover 'widgets'
    // ...and a csv body that merely MENTIONS pop(0) without the header-zip
    // shape is NOT the built-in parse — it must fail loudly, not be swallowed
    assert(intercept[PortParseException] {
      PortSpec.toJobSpec(
        "def parse_header(data):\n\treturn data.pop(0)\n" +
        "Get(\"http://x/y\")\nResponseType(\"csv\")\nTransform(parse_header)")
    }.getMessage.contains("unsupported Transform body"))
    // Paginate(by_offset) resolves the NAMED helper like Transform does
    PortSpec.toJobSpec(
      "def by_offset(prev):\n\treturn {'offset': 1}\n" +
      "Get(\"http://x/y?offset={offset}\")\nPaginate(by_offset)")
    assert(intercept[PortParseException] {
      PortSpec.toJobSpec("Get(\"http://x/y?offset={offset}\")\nPaginate(by_offset)")
    }.getMessage.contains("by_offset"))
    // offset pagination whose Get url lacks the {offset} token would send
    // the IDENTICAL request every pull — caught at conversion, not mid-run
    assert(intercept[PortParseException] {
      PortSpec.toJobSpec(
        "def by_offset(prev):\n\treturn {'offset': 1}\n" +
        "Get(\"http://x/y\")\nPaginate(by_offset)")
    }.getMessage.contains("{offset}"))
    // inline json.loads(row['c'])['k'] — the advertised idiom without the
    // intermediate variable — translates like the two-statement form, and a
    // chained subscript folds into one JSON path
    val inline = PortSpec.toJobSpec(
      "def tz(row):\n\treturn json.loads(row['options'])['time_zone']\n" +
      "Table(\"t\").ComputeColumn(\"tz\", tz)")
    assert(inline.tables("t").computed ===
      Seq(ComputedSpec("tz", "get_json_object(`options`, '$.time_zone')", None)))
    val chained = PortSpec.toJobSpec(
      "def ab(row):\n\treturn json.loads(row['options'])['a']['b']\n" +
      "Table(\"t\").ComputeColumn(\"ab\", ab)")
    assert(chained.tables("t").computed ===
      Seq(ComputedSpec("ab", "get_json_object(`options`, '$.a.b')", None)))
    // a key holding JSON-path metacharacters would silently NAVIGATE instead
    // of looking up the literal key — rejected loudly
    assert(intercept[PortParseException] {
      PortSpec.toJobSpec(
        "def tz(row):\n\treturn json.loads(row['options'])['time.zone']\n" +
        "Table(\"t\").ComputeColumn(\"tz\", tz)")
    }.getMessage.contains("time.zone"))
    // a docstring is not a translatable statement — it is skipped, not fatal
    assert(PortSpec.toJobSpec(
      "def up(value):\n\t\"\"\"upper-case it\"\"\"\n\treturn value.upper()\n" +
      "Table(\"t\").TransformColumn(\"c\", up)").tables("t").transforms
      .head.ops === Seq("upper"))
    // statement order is irrelevant in Starlark: a ResponseType("csv") AFTER
    // the Transform directive must still steer the CSV-idiom translation
    val orderFree = PortSpec.toJobSpec(
      "def parse_header(data):\n\theaders = data.pop(0)\n" +
      "\treturn [{headers[i]: row[i] for i in range(len(headers))} for row in data]\n" +
      "Get(\"http://x/y\")\nTransform(parse_header)\nResponseType(\"csv\")")
    assert(orderFree.source.responseType === "csv")
    // whitespace before the call paren is valid Starlark
    assert(PortSpec.toJobSpec("Table (\"w\").LoadStrategy(Full)")
      .tables("w").loadStrategy === "Full")
  }

  test(".port csv transform that RENAMES columns fails loudly, never the silent zip") {
    import graft.config.{PortSpec, PortParseException}
    // literal dict keys = a column-mapping transform, NOT the header-zip
    // idiom — swallowing it as the built-in CSV parse would type the renamed
    // column against the csv's actual header and load all-NULL keys
    val bad = """Get("http://t/widgets.csv")
ResponseType("csv")
LoadStrategy(Full)
TableDefinition({"widget_id": "INT"})
Transform(lambda data: [{'widget_id': row[0]} for row in data[1:]])"""
    val e = intercept[PortParseException] { PortSpec.toJobSpec(bad, _ => None) }
    assert(e.getMessage.contains("unsupported Transform body"))
    // ...while both genuine header-zip spellings still translate
    def port(name: String) = portFixture(s"apis/$name")
    val env = Map("TEST_URL" -> "http://x/widgets.csv").get _
    assert(PortSpec.toJobSpec(port("api_csv.port"), env).source.responseType === "csv")
    assert(PortSpec.toJobSpec(port("api_lambda_transform.port"), env)
      .source.responseType === "csv")
    // ...and the zip spelling of the same idiom (headers = data.pop(0);
    // dict(zip(headers, row))) — keys are the popped header verbatim, so it
    // is the built-in CSV parse too, not a renaming transform
    val zipForm = PortSpec.toJobSpec(
      "def parse_header(data):\n\theaders = data.pop(0)\n" +
      "\treturn [dict(zip(headers, row)) for row in data]\n" +
      "Get(\"http://x/y\")\nResponseType(\"csv\")\nTransform(parse_header)",
      _ => None)
    assert(zipForm.source.responseType === "csv")
    assert(zipForm.tables.values.forall(_.transforms.isEmpty))
    // a dict(zip(...)) WITHOUT the pop(0) header assignment is not the
    // idiom (the keys are not the csv header) — still loud
    assert(intercept[PortParseException] {
      PortSpec.toJobSpec(
        "def parse_header(data):\n\treturn [dict(zip(ks, row)) for row in data]\n" +
        "Get(\"http://x/y\")\nResponseType(\"csv\")\nTransform(parse_header)",
        _ => None)
    }.getMessage.contains("unsupported Transform body"))
  }

  test(".port without the offset Paginate idiom converts to a SINGLE-page load") {
    import graft.config.PortSpec
    def port(name: String) = portFixture(s"apis/$name")
    val env = Map("TEST_URL" -> "http://x/items", "EXAMPLE_WIDGETS_API_TOKEN" -> "tok").get _
    // offset idiom → the runtime follows the body's offset field
    assert(PortSpec.toJobSpec(port("api_offset_pagination.port"), env)
      .source.offsetField === "offset")
    // the `return None` Paginate (reference loads exactly one page) → the
    // empty sentinel: a body that HAPPENS to carry an 'offset' field must
    // not be drained page after page
    assert(PortSpec.toJobSpec(port("api_basic_auth.port"), env)
      .source.offsetField === "")
  }

  test(".port subset reader: reference API fixtures translate to JobSpec") {
    import graft.config.{PortSpec, PortParseException}
    def port(name: String) = portFixture(s"apis/$name")
    val env = Map("TEST_URL" -> "http://x/items", "EXAMPLE_WIDGETS_API_TOKEN" -> "tok").get _
    val off = PortSpec.toJobSpec(port("api_offset_pagination.port"), env)
    assert(off.source.format === "api")
    assert(off.source.url === "http://x/items?offset={offset}") // our token format already
    assert(off.source.basicAuthUser === Some("user") &&
      off.source.basicAuthPassword === Some("pass"))
    assert(off.source.responseType === "json" && off.source.itemsField === "items")
    assert(off.source.schema === Some("id:integer,name:string"))
    assert(off.extractFor("whatever").loadStrategy === "Full")
    val csv = PortSpec.toJobSpec(port("api_csv.port"), env)
    assert(csv.source.responseType === "csv")
    assert(csv.source.schema === Some("id:integer,price:decimal(10,2),ranking:float," +
      "name:string,active:boolean,launched:date,created_at:timestamp,description:string"))
    val inc = PortSpec.toJobSpec(port("api_incremental_load_strategy.port"), env)
    assert(inc.extractFor("t").loadStrategy === "Incremental")
    assert(inc.extractFor("t").primaryKey === Seq("id"))
    assert(!inc.source.retryOn4xx) // ErrorHandling: Http4XXError → Fail
    // the Retry branch must actually parse (a broken dict parser would also
    // return false above — this distinguishes them)
    val incRetry = PortSpec.toJobSpec(
      port("api_incremental_load_strategy.port")
        .replace("Http4XXError: Fail", "Http4XXError: Retry"), env)
    assert(incRetry.source.retryOn4xx)
    val wid = PortSpec.toJobSpec(portFixture("pad/sources/apis/example_widgets.port"), env)
    assert(wid.source.itemsField === "widgets") // def Transform, not a directive
    assert(wid.source.headers("Authorization") === "Bearer tok")
    // the csv dict-comprehension Transform (api_lambda_transform) IS the
    // built-in csv parse — accepted with nothing to configure
    assert(PortSpec.toJobSpec(port("api_lambda_transform.port"), env)
      .source.responseType === "csv")
    // per-item dict comprehension: identity fields drop out, int() becomes a
    // cast, time.fromtimestamp becomes a sql: transform (api_basic_auth,
    // api_integer_data_type); trailing commas in TableDefinition accepted.
    // created_at is NOT in api_basic_auth's TableDefinition — the reference's
    // typed load takes only the schema's columns, so its transform is
    // FILTERED (keeping it would reference a column the page frame never has)
    val ba = PortSpec.toJobSpec(port("api_basic_auth.port"), env)
    assert(ba.source.itemsField === "items" && ba.source.schema === Some("id:integer,name:string"))
    assert(ba.extractFor("t").transforms === Nil)
    // …but when the user's TableDefinition DOES declare the field, the
    // fromtimestamp translation is retained
    val baDeclared = PortSpec.toJobSpec(
      port("api_basic_auth.port").replace("\"name\": \"VARCHAR(255)\",",
        "\"name\": \"VARCHAR(255)\",\n\t\"created_at\": \"TIMESTAMP\","), env)
    assert(baDeclared.extractFor("t").transforms === Seq(
      graft.operators.ColumnTransforms.ColumnSpec("created_at",
        Seq("sql:timestamp_seconds(cast(`created_at` as bigint))"), None)))
    assert(PortSpec.toJobSpec(port("api_integer_data_type.port"), env)
      .extractFor("t").transforms === Seq(
        graft.operators.ColumnTransforms.ColumnSpec("id", Nil, Some("integer"))))
    // reference parity for the two invalid fixtures: loud failures
    intercept[PortParseException] { // ResponseType("glorb")
      PortSpec.toJobSpec(port("api_invalid_configuration.port"), env)
    }
    intercept[PortParseException] { // Transform body without a return
      PortSpec.toJobSpec(port("api_missing_return_value.port"), env)
    }
    // no-directive files parse with defaults (api_no_transform, api_500)
    assert(PortSpec.toJobSpec(port("api_no_transform.port"), env)
      .extractFor("t").loadStrategy === "Full")
    // a genuinely arbitrary lambda fails LOUDLY with the code quoted
    val bad = port("api_offset_pagination.port")
      .replace("Transform(lambda data: data['items'])",
        "Transform(lambda data: [fixup(d) for d in data])")
    val e = intercept[PortParseException] { PortSpec.toJobSpec(bad, env) }
    assert(e.getMessage.contains("fixup"))
  }

  test(".port schedule file: pad config/schedule.port exports the cron JSON shape") {
    import graft.config.PortSpec
    val entries = PortSpec.parseSchedules(portFixture("pad/config/schedule.port"))
    assert(entries === Seq(
      PortSpec.ScheduleEntry("extract-load-api", "worldtimeapi_ip_times", "1 hour", "postgresdocker"),
      PortSpec.ScheduleEntry("extract-load-api", "example_widgets", "2 hours", "postgresdocker"),
      PortSpec.ScheduleEntry("extract-load-db", "objects", "1 day", "postgresdocker"),
      PortSpec.ScheduleEntry("transform", "times_by_day_of_week", "1 day", "postgresdocker")))
    // the verb prints one cron-consumable line per entry
    val dir = SparkTestBase.tmpDir("schedport")
    val p = s"$dir/schedule.port"
    Files.writeString(Paths.get(p),
      "ExtractLoadAPI('widgets', every='2 hours', to='db1')\n")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.run(spark, List("schedule", p))
    }
    assert(out.toString("UTF-8").trim ===
      """{"table":"widgets","schedule":{"every":7200},"kind":"extract-load-api","to":"db1"}""")
  }

  test(".port drop-in migration: converted fixture runs through JobRunner end-to-end") {
    import graft.config.PortSpec
    val dir = SparkTestBase.tmpDir("port-e2e")
    // a widgets table with a 0..1 ranking, like the reference's fixture data
    spark.range(50).select(col("id"), (col("id") % 10 / lit(10.0)).as("ranking"))
      .write.parquet(s"$dir/widgets.parquet")
    val spec = PortSpec.toJobSpec(
      portFixture("databases/transform_column.port"),
      destination = graft.config.DestinationSpec(s"$dir/dest", 4),
      dbSource = Some(graft.config.SourceSpec("parquet", path = s"$dir/widgets.parquet")))
    val r = JobRunner.run(spark, spec, "widgets", preview = false, forceFull = false)
    assert(r.rowsLoaded === 50)
    // toPercent(value) = value * 100 applied by the load
    val live = graft.cdc.CdcPipeline.liveState(LakeTable(s"$dir/dest")(spark))
    assert(live.filter(col("id") === 7).select("ranking").collect()(0).getDouble(0) === 70.0)
    // …and the int()-cast variant EXECUTES too (regression: the translator
    // used to emit Spark-DDL "int", which the runtime type parser rejects —
    // parse-level assertions alone never caught it)
    val spec2 = PortSpec.toJobSpec(
      portFixture("databases/transform_column_and_change_type.port"),
      destination = graft.config.DestinationSpec(s"$dir/dest2", 4),
      dbSource = Some(graft.config.SourceSpec("parquet", path = s"$dir/widgets.parquet")))
    val r2 = JobRunner.run(spark, spec2, "widgets", preview = false, forceFull = false)
    assert(r2.rowsLoaded === 50)
    val live2 = graft.cdc.CdcPipeline.liveState(LakeTable(s"$dir/dest2")(spark))
    val rank7 = live2.filter(col("id") === 7).select("ranking").collect()(0)
    assert(rank7.getLong(0) === 70L, "int(value*100) must cast to the integer type")
  }

  test(".port sweep: EVERY reference fixture parses or fails loudly — no silent misreads") {
    import graft.config.{PortSpec, PortParseException}
    import scala.jdk.CollectionConverters._
    val root = portRoot
    val all = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".port")).toSeq.sortBy(_.toString)
    assert(all.size >= 28, s"fixture corpus shrank? found ${all.size}")
    val env = (_: String) => Some("http://x/items")
    // the corpus's two deliberately-invalid configs — the reference errors on
    // them too (ResponseType("glorb"), Transform without a return)
    val knownInvalid = Set("api_invalid_configuration.port", "api_missing_return_value.port")
    var parsed = 0
    all.foreach { p =>
      val name = p.getFileName.toString
      val text = Files.readString(p)
      if (name == "schedule.port") {
        assert(PortSpec.parseSchedules(text, env).nonEmpty, s"$name: no schedule entries")
        parsed += 1
      } else
        try {
          PortSpec.toJobSpec(text, env)
          assert(!knownInvalid(name), s"$name must fail loudly but parsed")
          parsed += 1
        } catch {
          case e: PortParseException =>
            assert(knownInvalid(name), s"$p failed to parse: ${e.getMessage}")
        }
    }
    assert(parsed === all.size - knownInvalid.size)
    // spot-check the three fixtures no other test reads: header auth ships
    // the literal bearer token; api_500/invalid_body carry the error-path
    // directives (BasicAuth + ErrorHandling) over an otherwise-default spec
    def fixture(rel: String) = Files.readString(root.resolve(rel))
    val ha = PortSpec.toJobSpec(fixture("apis/api_header_auth.port"), env)
    assert(ha.source.headers("Authorization") === "Bearer 292b0e")
    val ib = PortSpec.toJobSpec(fixture("apis/api_invalid_body.port"), env)
    assert(ib.source.basicAuthUser === Some("user") && !ib.source.retryOn4xx)
    val f500 = PortSpec.toJobSpec(fixture("apis/api_500.port"), env)
    assert(f500.source.url.startsWith("http://x/items/500"))
    // pad db example: the Table("objects").LoadStrategy(Full) chain with a
    // backslash continuation
    val pad = PortSpec.toJobSpec(fixture("pad/sources/databases/example.port"), env)
    assert(pad.tables("objects").loadStrategy === "Full")
  }

  test("version and help verbs (≙ reference main.go:110-121)") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.run(spark, List("version"))
      Main.run(spark, List("help"))
    }
    val printed = out.toString("UTF-8")
    assert(printed.contains(s"graft ${Main.Version}"))
    assert(printed.contains(s"spark ${org.apache.spark.SPARK_VERSION}"))
    // help lists every verb the dispatcher knows
    Seq("gen", "replay", "compact", "vacuum", "show", "history", "incremental",
      "lookup", "follow", "tail", "extract-load", "schedule",
      "list-tables", "describe-table", "table-metadata", "drop-table", "rebucket",
      "import-csv", "create-destination-table", "create-destination-table-from-config-file",
      "new", "db-terminal", "plugin", "about-db", "transform", "extract",
      "extract-api", "secrets", "port-convert", "version", "help").foreach { verb =>
      assert(printed.contains(verb), s"help output missing verb '$verb'")
    }
  }
}
