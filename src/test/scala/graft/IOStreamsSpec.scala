package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import graft.io.{GraftIO, Manifest, Shards}
import graft.streaming.Streams
import java.nio.file.Files

/** IO round-trips (SURVEY §2.1) and Structured Streaming wrappers. */
class IOStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("csv round trip with options") {
    val dir = tmp("graft_csv") + "/out"
    val d = Gdf(Seq((1L, "a;x", 1.5), (2L, "b", 2.5)).toDF("i", "s", "v"))
    GraftIO.toCsv(d, dir, delimiter = "|")
    val back = GraftIO.fromCsv(spark, dir, delimiter = "|")
    assert(back.sdf.count() == 2)
    assert(back.schema("i").dataType == IntegerType ||
      back.schema("i").dataType == LongType)
    assert(col1[String](back.sdf.orderBy("i"), "s") == Seq("a;x", "b"))
  }

  test("loadCsv parses in-memory string") {
    val g = GraftIO.loadCsv(spark, "a,b\n1,x\n2,y")
    assert(g.names == Seq("a", "b"))
    assert(g.sdf.count() == 2)
  }

  test("parquet round trip with compression and partitioning") {
    val dir = tmp("graft_parq") + "/out"
    val d = Gdf(Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("i", "p", "v"))
    GraftIO.toParquet(d, dir, compression = "zstd", partitionBy = Seq("p"))
    val back = GraftIO.fromParquet(spark, dir)
    assert(back.sdf.count() == 2)
    val cols = GraftIO.fromParquet(spark, dir, columns = Seq("i"))
    assert(cols.names == Seq("i"))
    // a filter on the partition column prunes partitions at plan time —
    // the scan lists one partition directory, not all of them
    val pruned = back.sdf.filter(org.apache.spark.sql.functions.col("p") === "x")
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.nonEmpty, pruned.queryExecution.executedPlan.toString)
    assert(scan.get.metadata.get("PartitionFilters")
      .exists(_.contains("p")), scan.get.metadata.toString)
    assert(pruned.count() == 1)
    // the scan's file listing keeps only the matching partition directory
    assert(scan.get.selectedPartitions.totalNumberOfFiles == 1L &&
      scan.get.selectedPartitions.partitionCount == 1)
  }

  test("ndjson round trip and loadNdjson") {
    val dir = tmp("graft_json") + "/out"
    val d = Gdf(Seq((1L, "x"), (2L, "y")).toDF("i", "s"))
    GraftIO.toNdjson(d, dir)
    assert(GraftIO.fromNdjson(spark, dir).sdf.count() == 2)
    val mem = GraftIO.loadNdjson(spark, "{\"a\": 1}\n{\"a\": 2}")
    assert(col1[Long](mem.sdf.orderBy("a"), "a") == Seq(1L, 2L))
  }

  test("fromCsv skipRows / skipRowsAfterHeader actually skip") {
    val dir = tmp("graft_skip")
    val f = new java.io.File(dir, "in.csv")
    java.nio.file.Files.write(f.toPath,
      "garbage line 1\ngarbage line 2\na,b\nskipme,0\n1,x\n2,y\n"
        .getBytes("UTF-8"))
    val g = GraftIO.fromCsv(spark, f.getPath, skipRows = 2,
      skipRowsAfterHeader = 1)
    assert(g.names == Seq("a", "b"))
    assert(g.sdf.orderBy("a").collect().map(_.getString(1)).toSeq ==
      Seq("x", "y"))
  }

  test("fromCsv infer_schema_length: Some(n) infers from n rows only " +
      "(bounded probe, the Explorer contract), None does the full-table " +
      "inference scan") {
    val dir = tmp("graft_infer")
    val f = new java.io.File(dir, "in.csv")
    // rows 1-2 are integral, row 3 is fractional — a 2-row sample infers
    // INT (and the full apply parses 2.5 per int semantics), a full scan
    // infers DOUBLE
    java.nio.file.Files.write(f.toPath,
      "a\n1\n2\n2.5\n".getBytes("UTF-8"))
    val bounded = GraftIO.fromCsv(spark, f.getPath,
      inferSchemaLength = Some(2))
    assert(bounded.schema("a").dataType ==
      org.apache.spark.sql.types.IntegerType, bounded.schema)
    val full = GraftIO.fromCsv(spark, f.getPath, inferSchemaLength = None)
    assert(full.schema("a").dataType ==
      org.apache.spark.sql.types.DoubleType, full.schema)
    assert(col1[Double](full.sdf.orderBy("a"), "a") == Seq(1.0, 2.0, 2.5))
    // bounded inference composes with the line-skip pre-pass: the sample
    // reads POST-skip lines, not raw file lines
    val g = new java.io.File(dir, "skip.csv")
    java.nio.file.Files.write(g.toPath,
      "garbage\na\n1\n2\n".getBytes("UTF-8"))
    val skipped = GraftIO.fromCsv(spark, g.getPath, skipRows = 1,
      inferSchemaLength = Some(10))
    assert(skipped.names == Seq("a"))
    assert(skipped.schema("a").dataType ==
      org.apache.spark.sql.types.IntegerType, skipped.schema)
  }

  test("loadCsv / loadNdjson strip CRLF line endings (a trailing \\r " +
      "would silently ride on the last column and its header name)") {
    val g = GraftIO.loadCsv(spark, "a,b\r\n1,x\r\n2,y\r\n")
    assert(g.names == Seq("a", "b"))
    assert(g.sdf.orderBy("a").collect().map(_.getString(1)).toSeq ==
      Seq("x", "y"))
    val j = GraftIO.loadNdjson(spark, "{\"a\": 1}\r\n{\"a\": 2}\r\n")
    assert(col1[Long](j.sdf.orderBy("a"), "a") == Seq(1L, 2L))
  }

  test("fromQuery reads over JDBC (embedded Derby — Spark's metastore db)") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE people (id INT, name VARCHAR(32), score DOUBLE)")
      st.execute("INSERT INTO people VALUES (1, 'ada', 9.5), (2, 'bob', 7.25)," +
        " (3, 'eve', 8.0)")
      st.close()
    } finally conn.close()
    val g = GraftIO.fromQuery(spark, url,
      "SELECT id, name, score FROM people WHERE score >= 8.0")
    val rows = g.sdf.orderBy("id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 3))
    assert(rows.map(_.getString(1)).toSeq == Seq("ada", "eve"))
  }

  test("fromQuery reads over JDBC from a SECOND engine (in-process " +
      "DuckDB) with identical results") {
    // breadth check (VERDICT r5 next #9): the same fromQuery path against
    // a structurally different engine — DuckDB's JDBC driver, attached
    // from the image's pre-warmed artifact cache (build.sbt test-scope
    // unmanaged jar; zero egress). Skips when the driver is absent.
    val hasDriver =
      try { Class.forName("org.duckdb.DuckDBDriver"); true }
      catch { case _: ClassNotFoundException => false }
    assume(hasDriver, "duckdb_jdbc not on the test classpath")
    val url = "jdbc:duckdb:"
    val conn = java.sql.DriverManager.getConnection(url)
    val db = try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE people (id INT, name VARCHAR, score DOUBLE)")
      st.execute("INSERT INTO people VALUES (1, 'ada', 9.5)," +
        " (2, 'bob', 7.25), (3, 'eve', 8.0)")
      st.close()
      // an in-memory duckdb is per-connection; export to a file db the
      // Spark JDBC source can open in its own connections
      val f = java.io.File.createTempFile("graft_ddb", ".db")
      f.delete()
      val st2 = conn.createStatement()
      st2.execute(s"ATTACH '${f.getPath}' AS filedb")
      st2.execute("CREATE TABLE filedb.people AS SELECT * FROM people")
      st2.execute("DETACH filedb")
      st2.close()
      f
    } finally conn.close()
    val g = GraftIO.fromQuery(spark, s"jdbc:duckdb:${db.getPath}",
      "SELECT id, name, score FROM people WHERE score >= 8.0")
    val rows = g.sdf.orderBy("id").collect()
    // dialect note: DuckDB's JDBC metadata widens INTEGER to BIGINT on
    // the Spark side — value parity is the contract here, not the
    // engine-specific JDBC width
    assert(rows.map(_.getAs[Number](0).longValue).toSeq == Seq(1L, 3L))
    assert(rows.map(_.getString(1)).toSeq == Seq("ada", "eve"))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(9.5, 8.0))
    db.delete()
  }

  test("fromCsv utf8-lossy replaces malformed bytes with U+FFFD") {
    val dir = tmp("graft_lossy")
    val f = new java.io.File(dir, "in.csv")
    // 0xFF is never valid UTF-8
    val bytes = "a,b\nok,1\nbad".getBytes("UTF-8") ++
      Array[Byte](0xFF.toByte) ++ ",2\n".getBytes("UTF-8")
    java.nio.file.Files.write(f.toPath, bytes)
    val g = GraftIO.fromCsv(spark, f.getPath, encoding = "utf8-lossy")
    val got = g.sdf.orderBy("b").collect().map(_.getString(0)).toSeq
    assert(got == Seq("ok", "bad�"))
  }

  test("fromCsv honors every nilValue, not just the head") {
    val dir = tmp("graft_nils")
    val f = new java.io.File(dir, "in.csv")
    java.nio.file.Files.write(f.toPath,
      "a,b\nNA,1\nnull,2\n-,3\nok,4\n".getBytes("UTF-8"))
    val g = GraftIO.fromCsv(spark, f.getPath,
      nilValues = Seq("NA", "null", "-"))
    val got = g.sdf.orderBy("b").collect().map(r => Option(r.getString(0))).toSeq
    assert(got == Seq(None, None, None, Some("ok")))
  }

  test("fromNdjson infers schema from the first n rows only") {
    val dir = tmp("graft_infer")
    val f = new java.io.File(dir, "in.ndjson")
    // row 3 adds a field; inferring from 2 rows must not see it
    java.nio.file.Files.write(f.toPath,
      "{\"a\": 1}\n{\"a\": 2}\n{\"a\": 3, \"b\": \"x\"}\n".getBytes("UTF-8"))
    val narrow = GraftIO.fromNdjson(spark, f.getPath, inferSchemaLength = Some(2))
    assert(narrow.names == Seq("a"))
    assert(narrow.sdf.count() == 3)
    val full = GraftIO.fromNdjson(spark, f.getPath)
    assert(full.names.toSet == Set("a", "b"))
  }

  test("dump_csv / dump_ndjson / dump_parquet round-trip through load_*") {
    val d = Gdf(Seq((1L, "x,quoted", 1.5), (2L, "y", 2.5)).toDF("i", "s", "v"))
    val csv = GraftIO.dumpCsv(d)
    val backCsv = GraftIO.loadCsv(spark, csv)
    assert(backCsv.sdf.count() == 2)
    assert(backCsv.sdf.orderBy("i").collect().map(_.getString(1)).toSeq ==
      Seq("x,quoted", "y"))
    val nd = GraftIO.dumpNdjson(d)
    assert(nd.endsWith("\n") && nd.linesIterator.size == 2)
    assert(GraftIO.loadNdjson(spark, nd).sdf.count() == 2)
    val pq = GraftIO.dumpParquet(d, compression = "zstd")
    val backPq = GraftIO.loadParquet(spark, pq)
    assert(backPq.sdf.orderBy("i").collect().map(_.getDouble(2)).toSeq ==
      Seq(1.5, 2.5))
    assert(backPq.schema("s").dataType == StringType)
  }

  test("arrow ipc lz4/zstd compressed round trips") {
    val d = Gdf((1 to 500).map(i => (i.toLong, s"text $i", i * 1.5))
      .toDF("i", "s", "v"))
    for (codec <- Seq("lz4", "zstd")) {
      val f = tmp(s"graft_ipc_$codec") + s"/f.arrow"
      GraftIO.toIpc(d, f, compression = Some(codec))
      val back = GraftIO.fromIpc(spark, f)
      assert(back.sdf.count() == 500, codec)
      assert(back.sdf.agg(F.sum("v")).head.getDouble(0) == 500 * 501 / 2 * 1.5)
      val fs = tmp(s"graft_ipcs_$codec") + s"/f.arrows"
      GraftIO.toIpcStream(d, fs, compression = Some(codec))
      assert(GraftIO.fromIpcStream(spark, fs).sdf.count() == 500, codec)
    }
  }

  test("series from_binary/to_binary/to_iovec reinterpret fixed-width buffers") {
    import graft.io.SeriesBinary
    // reference doctest (series.ex:945-947): [1,2,3] s64 → 24 LE bytes
    val s64 = Gdf(Seq(1L, 2L, 3L).toDF("values"))
    val bin = SeriesBinary.toBinary(s64, "values")
    assert(bin.length == 24)
    val expect = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(1L, 2L, 3L).foreach(expect.putLong)
    assert(bin.toSeq == expect.array().toSeq)
    assert(col1[Long](SeriesBinary.fromBinary(spark, bin, DType.S(64)).sdf
      .orderBy("values"), "values") == Seq(1L, 2L, 3L))
    // bool packs 1 byte per value (doctest series.ex:949-951)
    val b = Gdf(Seq(true, false, true).toDF("values"))
    assert(SeriesBinary.toBinary(b, "values").toSeq ==
      Seq[Byte](1, 0, 1))
    // f64, u8 (logical width 1 byte despite the widened physical), date
    val f = Gdf(Seq(1.5, -2.5).toDF("values"))
    val fb = SeriesBinary.toBinary(f, "values")
    assert(fb.length == 16)
    assert(col1[Double](SeriesBinary.fromBinary(spark, fb, DType.F(64)).sdf
      .orderBy(F.desc("values")), "values") == Seq(1.5, -2.5))
    val u8 = SeriesBinary.fromBinary(spark, Array[Byte](0, 127, -1), DType.U(8))
    assert(u8.dtypes("values") == DType.U(8))
    assert(col1[Short](u8.sdf.orderBy("values"), "values") ==
      Seq[Short](0, 127, 255))
    assert(SeriesBinary.toBinary(u8, "values").toSeq.sorted ==
      Seq[Byte](-1, 0, 127).sorted)
    val d = Gdf(Seq(java.sql.Date.valueOf("2020-01-02").toLocalDate)
      .toDF("values"))
    val db = SeriesBinary.toBinary(d, "values")
    assert(db.length == 4)
    assert(SeriesBinary.fromBinary(spark, db, DType.Date).sdf.head.get(0)
      .toString == "2020-01-02")
    // alignment + nil rejection
    intercept[IllegalArgumentException] {
      SeriesBinary.fromBinary(spark, Array[Byte](1, 2, 3), DType.S(16))
    }
    intercept[org.apache.spark.SparkException] {
      SeriesBinary.toBinary(
        Gdf(Seq(Some(1L), None).toDF("values")), "values")
    }
    // iovec: one chunk per partition, concat == binary
    val multi = Gdf(spark.range(0, 100).repartition(4).toDF())
    val iov = SeriesBinary.toIovec(multi, "id")
    assert(iov.size == 4 && iov.map(_.length).sum == 800)
  }

  test("dump_ipc / dump_ipc_stream round-trip through load_ipc*") {
    val d = Gdf(Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("i", "s", "v"))
    val fileBytes = GraftIO.dumpIpc(d)
    val backF = GraftIO.loadIpc(spark, fileBytes)
    assert(col1[Double](backF.sdf.orderBy("i"), "v") == Seq(1.5, 2.5))
    val streamBytes = GraftIO.dumpIpcStream(d, compression = Some("zstd"))
    val backS = GraftIO.loadIpcStream(spark, streamBytes)
    assert(col1[String](backS.sdf.orderBy("i"), "s") == Seq("x", "y"))
    // compressed file-format dump also loads
    val zf = GraftIO.dumpIpc(d, compression = Some("lz4"))
    assert(GraftIO.loadIpc(spark, zf).sdf.count() == 2)
  }

  test("dump_ipc_schema + dump_ipc_record_batch assemble into a valid stream") {
    val d = Gdf(Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "z", 3.5))
      .toDF("i", "s", "v"))
    val schemaMsg = GraftIO.dumpIpcSchema(d)
    val batches = GraftIO.dumpIpcRecordBatches(d)
    assert(schemaMsg.nonEmpty && batches.nonEmpty)
    // hand-frame an IPC stream: schema message ++ batch messages ++ EOS —
    // proves the dumps are genuine encapsulated Arrow messages
    val eos = Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0)
    val stream = schemaMsg ++ batches.flatten ++ eos
    val back = GraftIO.loadIpcStream(spark, stream)
    assert(col1[String](back.sdf.orderBy("i"), "s") == Seq("x", "y", "z"))
    // compressed batches frame the same way and decompress on read
    val zb = GraftIO.dumpIpcRecordBatches(d, compression = Some("zstd"))
    val zstream = schemaMsg ++ zb.flatten ++ eos
    assert(GraftIO.loadIpcStream(spark, zstream).sdf.count() == 3)
  }

  test("arrow ipc file round trip preserves schema and values") {
    val p = tmp("graft_ipc") + "/data.arrow"
    val d = Gdf(Seq((1L, "x", 1.5, true), (2L, "y", 2.5, false))
      .toDF("i", "s", "v", "b"))
    GraftIO.toIpc(d, p)
    val back = GraftIO.fromIpc(spark, p)
    assert(back.schema == d.schema)
    assert(back.sdf.orderBy("i").collect().toSeq ==
      d.sdf.orderBy("i").collect().toSeq)
  }

  test("arrow ipc stream round trip + in-memory load") {
    val p = tmp("graft_ipcs") + "/data.arrows"
    val d = Gdf(Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0))).toDF("i", "arr"))
    GraftIO.toIpcStream(d, p)
    val back = GraftIO.fromIpcStream(spark, p)
    assert(back.sdf.count() == 2)
    assert(back.schema == d.schema)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    assert(GraftIO.loadIpcStream(spark, bytes).sdf.count() == 2)
  }

  test("bucketed tables join without a shuffle exchange") {
    // the catalog is in-memory per JVM: drop any orphaned warehouse dirs
    // left by a previous test JVM before re-creating the managed tables
    Seq("bt_a", "bt_b").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new java.io.File(s"spark-warehouse/$tbl")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    val a = Gdf((1 to 100).map(i => (i.toLong, s"a$i")).toDF("k", "av"))
    val b = Gdf((1 to 100).map(i => (i.toLong, i * 2.0)).toDF("k", "bv"))
    GraftIO.toBucketTable(a, "bt_a", Seq("k"), 4, sortBy = Seq("k"))
    GraftIO.toBucketTable(b, "bt_b", Seq("k"), 4, sortBy = Seq("k"))
    val j = Joins.join(GraftIO.fromTable(spark, "bt_a"),
      GraftIO.fromTable(spark, "bt_b"), Seq("k" -> "k"), "inner")
    // disable broadcast so the co-located sort-merge path is what's planned
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = j.sdf.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(j.sdf.count() == 100)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("fromRows") {
    val g = GraftIO.fromRows(spark,
      Seq(org.apache.spark.sql.Row(1L, "a")),
      schema("i" -> LongType, "s" -> StringType))
    assert(g.sdf.count() == 1)
  }

  test("streaming windowed counts equals batch aggregation") {
    val dir = tmp("graft_stream")
    val events = (0 until 100).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        s"2024-01-01 0${i % 4}:0${i % 6}:00"), i % 3 match {
          case 0 => "click"; case 1 => "view"; case _ => "error"
        }, i.toDouble)
    }.toDF("event_id", "ts", "event_type", "value")
    events.write.parquet(dir + "/ev")
    val stream = Streams.readParquetStream(spark, dir + "/ev", events.schema,
      maxFilesPerTrigger = 2)
    val agg = Streams.windowedCounts(stream, "ts", "10 minutes", "1 hour",
      Seq("event_type"))
    val got = Streams.runToMemory(agg, "t_win",
      org.apache.spark.sql.streaming.OutputMode.Complete())
      .select(F.col("window.start").as("w"), F.col("event_type"), F.col("n"),
        F.col("total_value"))
    val exp = events.groupBy(F.window(F.col("ts"), "1 hour").getField("start")
        .as("w"), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"), F.sum("value").as("total_value"))
    assert(got.orderBy("w", "event_type").collect().toSeq ==
      exp.orderBy("w", "event_type").collect().toSeq)
  }

  test("streaming dedupe within watermark") {
    val dir = tmp("graft_dedup")
    val events = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 3.0))
      .toDF("k", "ts", "value")
    events.write.parquet(dir + "/ev")
    val s = Streams.readParquetStream(spark, dir + "/ev", events.schema)
    val out = Streams.runToMemory(
      Streams.dedupeStream(s, "ts", "1 hour", Seq("k")), "t_dedup")
    assert(out.count() == 2)
  }

  test("utcDay resolves awkward column names (Column API, no raw-SQL " +
      "interpolation)") {
    val d0 = 19723L
    val df = Seq((d0 * 86400L * 1000000000L + 1L, 1L))
      .toDF("event ts.raw", "id")
    val got = df.select(GraftIO.utcDay("event ts.raw").as("d")).collect()
    assert(got(0).getDate(0).toString == "2024-01-01")
  }

  test("time-partitioned layout: directory pruning + in-file ts pushdown, " +
      "session-TZ-independent day bucketing") {
    val dir = tmp("graft_tp")
    val dayNs = 86400L * 1000000000L
    val d0 = 19723L // LocalDate.of(2024,1,1).toEpochDay
    // 3 UTC days × 4 events, one per hour 0-3
    val rows = for (d <- 0 until 3; i <- 0 until 4) yield
      (d * 4L + i, (d0 + d) * dayNs + i * 3600L * 1000000000L, s"t$i")
    val ev = rows.toDF("event_id", "ts", "kind")
    GraftIO.writeTimePartitioned(ev, "ts", dir + "/layout")
    val all = GraftIO.readTimeSlice(spark, dir + "/layout",
      d0 * dayNs, (d0 + 3) * dayNs)
    assert(all.count() == 12)
    val day1 = GraftIO.readTimeSlice(spark, dir + "/layout",
      (d0 + 1) * dayNs, (d0 + 2) * dayNs)
    val plan = day1.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("__pdate")),
      s"date bound not a partition filter:\n$plan")
    val pushed = plan.linesIterator
      .filter(_.contains("PushedFilters: [")).mkString
    assert(pushed.contains("GreaterThanOrEqual(ts") &&
      pushed.contains("LessThan(ts"),
      s"ns bound not pushed to the scan:\n$plan")
    assert(col1[Long](day1.orderBy("event_id"), "event_id") ==
      Seq(4L, 5L, 6L, 7L))
    // the slice must TOUCH one file of three (directory pruning is an IO
    // fact, not just a plan annotation)
    day1.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(day1.queryExecution.executedPlan).head
    assert(scan.metrics("numFiles").value == 1,
      s"one-day slice touched ${scan.metrics("numFiles").value} files")
    // day bucketing is exact integral UTC arithmetic: a non-UTC session
    // writes and reads the SAME partitions (to_date(timestamp_micros)
    // would have bucketed by the session zone and missed rows here)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      GraftIO.writeTimePartitioned(ev, "ts", dir + "/layout2")
      val d2 = GraftIO.readTimeSlice(spark, dir + "/layout2",
        (d0 + 1) * dayNs, (d0 + 2) * dayNs)
      assert(col1[Long](d2.orderBy("event_id"), "event_id") ==
        Seq(4L, 5L, 6L, 7L))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("lakeSink: interleaved micro-batch appends build the same pruned " +
      "layout as the batch writer; the commit log ignores uncommitted files") {
    val dir = tmp("graft_lake")
    val dayNs = 86400L * 1000000000L
    val d0 = 19723L // 2024-01-01
    // 2 days × 4 events; feed split so EACH stream file carries rows of
    // BOTH days — batches append into the same day partitions
    val rows = for (d <- 0 until 2; i <- 0 until 4) yield
      (d * 4L + i, (d0 + d) * dayNs + i * 3600L * 1000000000L, i.toDouble)
    val ev = rows.toDF("event_id", "ts", "value")
    val feed = new java.io.File(dir + "/feed"); feed.mkdirs()
    (0 until 2).foreach { k =>
      shipFeed(ev.filter(F.col("event_id") % 2 === k), feed, k,
        dir + s"/tmp$k")
    }
    val layout = dir + "/layout"
    Streams.lakeSink(
      Streams.readParquetStream(spark, feed.toString, ev.schema,
        maxFilesPerTrigger = 1), "ts", layout, "t_lake")
    // identical pruned slice as the batch writer over the same rows
    val batchLayout = dir + "/batch_layout"
    GraftIO.writeTimePartitioned(ev, "ts", batchLayout)
    val sliceS = GraftIO.readTimeSlice(spark, layout,
      (d0 + 1) * dayNs, (d0 + 2) * dayNs)
    val sliceB = GraftIO.readTimeSlice(spark, batchLayout,
      (d0 + 1) * dayNs, (d0 + 2) * dayNs)
    assert(col1[Long](sliceS.orderBy("event_id"), "event_id") ==
      col1[Long](sliceB.orderBy("event_id"), "event_id"))
    assert(col1[Long](sliceS.orderBy("event_id"), "event_id") ==
      Seq(4L, 5L, 6L, 7L))
    // the date bound prunes partitions on the stream-written layout too
    val plan = sliceS.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("__pdate")), plan)
    // exactly-once: a file in the partition dir that is NOT in the sink's
    // _spark_metadata commit log (a crashed batch's orphan) is invisible
    // to readers
    val day1 = new java.io.File(layout).listFiles()
      .find(_.getName.startsWith("__pdate=2024-01-02")).get
    val existing = day1.listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(existing.toPath,
      new java.io.File(day1, "part-99999-orphan.parquet").toPath)
    assert(GraftIO.readTimeSlice(spark, layout,
      (d0 + 1) * dayNs, (d0 + 2) * dayNs).count() == 4)
    // re-running against an existing commit log with a FRESH checkpoint
    // would silently skip every batch (FileStreamSink dedups batch ids
    // against the log) — refused loudly; the original checkpoint path
    // is the sanctioned resume
    intercept[IllegalArgumentException] {
      Streams.lakeSink(
        Streams.readParquetStream(spark, feed.toString, ev.schema),
        "ts", layout, "t_lake2")
    }
    // --- compaction of the accreted layout ---
    def dayFiles(date: String): Int = new java.io.File(layout).listFiles()
      .find(_.getName == s"__pdate=$date")
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
      .getOrElse(0)
    assert(dayFiles("2024-01-02") >= 3) // a file per touching batch + orphan
    // refuses a commit-logged layout without the explicit conversion...
    intercept[IllegalArgumentException] {
      GraftIO.compactTimePartitions(spark, layout,
        (d0 + 1) * dayNs, (d0 + 2) * dayNs)
    }
    // ...and a partial-day bound, which would drop the day's other rows
    intercept[IllegalArgumentException] {
      GraftIO.compactTimePartitions(spark, layout,
        (d0 + 1) * dayNs, (d0 + 1) * dayNs + 1, dropCommitLog = true)
    }
    GraftIO.compactTimePartitions(spark, layout,
      (d0 + 1) * dayNs, (d0 + 2) * dayNs, dropCommitLog = true)
    // conversion deleted the uncommitted orphan BEFORE dropping the log
    // (or it would have become visible and been baked into the rewrite);
    // the compacted day is ONE sorted file; the other day keeps its
    // committed files and exact rows
    assert(dayFiles("2024-01-02") == 1)
    assert(dayFiles("2024-01-01") == 2)
    val after = GraftIO.readTimeSlice(spark, layout,
      (d0 + 1) * dayNs, (d0 + 2) * dayNs)
    assert(col1[Long](after.orderBy("event_id"), "event_id") ==
      Seq(4L, 5L, 6L, 7L))
    assert(GraftIO.readTimeSlice(spark, layout,
      d0 * dayNs, (d0 + 1) * dayNs).count() == 4)
  }

  test("ingestDedupStream: survivors grow the index across micro-batches, " +
      "result equals the explicit sequential fold, no cache leak") {
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the sun sets slowly behind the distant purple mountains"
    val other = "completely unrelated text about database query optimization " +
      "and distributed systems running on large compute clusters"
    val pasta = "short interlude about cooking pasta properly al dente " +
      "tonight with garlic and fresh basil from the garden"
    val dir = tmp("graft_ingest")
    val corpus = Seq((100L, base)).toDF("doc_id", "text")
    val idx = dir + "/idx"
    Dedup.writeMinhashIndex(corpus, F.col("doc_id"), F.col("text"), idx,
      shingleSize = 3, numHashes = 64, bands = 16)
    // batch 0: 1 near-dups the corpus (dies at the static index);
    //          2 is fresh (survives, must be APPENDED)
    // batch 1: 3 is an identical copy of 2 — it can only die via the
    //          appended survivor; 4 is fresh (survives)
    val b0 = Seq((1L, base.replace("slowly", "quickly")), (2L, pasta))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, pasta), (4L, other)).toDF("doc_id", "text")
    val feed = new java.io.File(dir + "/feed"); feed.mkdirs()
    shipFeed(b0, feed, 0, dir + "/tmp0")
    shipFeed(b1, feed, 1, dir + "/tmp1")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = dir + "/out"
    val prefix = Streams.ingestDedupStream(
      Streams.readParquetStream(spark, feed.toString, b0.schema,
        maxFilesPerTrigger = 1),
      F.col("doc_id"), F.col("text"), idx, out, threshold = 0.5,
      name = "t_ingest")
    assert(col1[Long](spark.read.parquet(out).orderBy("doc_id"), "doc_id")
      == Seq(2L, 4L))
    // per-batch persists must be released (a 24/7 stream can't accrete one)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
    // retry idempotence: replaying batch 1 against the post-run index with
    // its own segment EXCLUDED recomputes the same survivors, and the
    // dynamic-overwrite append leaves the index byte-identical in count —
    // a checkpoint-replayed batch overwrites, never duplicates
    val preFeatures = spark.read.parquet(idx + "/features").count()
    val s1Retry = Dedup.dedupAgainstIndex(b1, F.col("doc_id"),
      F.col("text"), idx, threshold = 0.5,
      excludeSegment = Some(s"${prefix}_b1"))
    assert(col1[Long](s1Retry.orderBy("doc_id"), "doc_id") == Seq(4L))
    Dedup.appendToMinhashIndex(s1Retry, F.col("doc_id"), F.col("text"),
      idx, segment = s"${prefix}_b1")
    assert(spark.read.parquet(idx + "/features").count() == preFeatures)
    // and WITHOUT the exclusion the batch finds its own earlier segment:
    // doc 4 self-matches at Jaccard 1 and dies — the hazard excludeSegment
    // exists for
    val selfHit = Dedup.dedupAgainstIndex(b1, F.col("doc_id"),
      F.col("text"), idx, threshold = 0.5)
    assert(col1[Long](selfHit, "doc_id").isEmpty)
    // a SECOND run (fresh checkpoint → batchIds restart at 0) must get a
    // NEW segment prefix: its "b0" would otherwise dynamic-overwrite —
    // silently delete — the first run's b0 survivors from the index.
    // Reprocessed docs die against their earlier selves, so the sink's
    // total survivor set is unchanged
    val prefix2 = Streams.ingestDedupStream(
      Streams.readParquetStream(spark, feed.toString, b0.schema,
        maxFilesPerTrigger = 1),
      F.col("doc_id"), F.col("text"), idx, out, threshold = 0.5,
      name = "t_ingest2")
    assert(prefix2 != prefix)
    assert(col1[Long](spark.read.parquet(out).orderBy("doc_id"), "doc_id")
      == Seq(2L, 4L))
    // parity: the stream IS the sequential batch fold, nothing more
    val idx2 = dir + "/idx2"
    Dedup.writeMinhashIndex(corpus, F.col("doc_id"), F.col("text"), idx2,
      shingleSize = 3, numHashes = 64, bands = 16)
    val s0 = Dedup.dedupAgainstIndex(b0, F.col("doc_id"), F.col("text"),
      idx2, threshold = 0.5)
    Dedup.appendToMinhashIndex(s0, F.col("doc_id"), F.col("text"), idx2,
      segment = "b0")
    val s1 = Dedup.dedupAgainstIndex(b1, F.col("doc_id"), F.col("text"),
      idx2, threshold = 0.5)
    assert((col1[Long](s0, "doc_id") ++ col1[Long](s1, "doc_id")).sorted
      == Seq(2L, 4L))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("ingest streams describe each trigger phase (survivor write, index " +
      "append, fold) in their SQL executions, under the batch's own " +
      "description") {
    import graft.operators.{Dedup, Similarity}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    // the descriptions of every SQL execution `body` starts
    def descriptions(body: => Unit): Seq[String] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart => seen.add(s.description)
          case _ => ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        spark.sparkContext.setJobDescription("__phase_sentinel")
        try spark.range(1).collect()
        finally spark.sparkContext.setJobDescription(null)
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!seen.contains("__phase_sentinel") &&
            System.nanoTime() < deadline) Thread.sleep(20)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(seen.contains("__phase_sentinel"), "listener events never arrived")
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    }
    val dir = tmp("graft_phases")
    val text = "the quick brown fox jumps over the lazy dog again and again " +
      "while the sun sets slowly behind the distant purple mountains"
    Dedup.writeMinhashIndex(Seq((100L, text)).toDF("doc_id", "text"),
      F.col("doc_id"), F.col("text"), dir + "/idx", shingleSize = 3,
      numHashes = 64, bands = 16)
    def axis(d: Int): Seq[Double] =
      Seq.tabulate(8)(i => if (i == d) 1.0 else 0.01 * (i + 1))
    Similarity.writeIvfIndex(Seq((100L, axis(0))).toDF("vec_id", "embedding"),
      F.col("vec_id"), F.col("embedding"), dir + "/eidx", nlist = 2,
      trainSample = 10)
    // fresh docs: every trigger has survivors to write and append
    val texts = Seq(
      "completely unrelated text about database query optimization and " +
        "distributed systems running on large compute clusters",
      "short interlude about cooking pasta properly al dente tonight with " +
        "garlic and fresh basil from the garden").zipWithIndex.map {
      case (t, k) => Seq((k.toLong, t)).toDF("doc_id", "text") }
    val vecs = (0 until 2).map(k =>
      Seq((k.toLong, axis(k + 1))).toDF("vec_id", "embedding"))
    val feed = new java.io.File(dir + "/feed"); feed.mkdirs()
    val efeed = new java.io.File(dir + "/efeed"); efeed.mkdirs()
    for (k <- 0 until 2) {
      shipFeed(texts(k), feed, k, s"$dir/tmp$k")
      shipFeed(vecs(k), efeed, k, s"$dir/etmp$k")
    }
    val dedupDescs = descriptions(Streams.ingestDedupStream(
      Streams.readParquetStream(spark, feed.toString, texts.head.schema,
        maxFilesPerTrigger = 1),
      F.col("doc_id"), F.col("text"), dir + "/idx", dir + "/out",
      threshold = 0.5, name = "t_phases", compactEvery = 1))
    val embedDescs = descriptions(Streams.ingestEmbedStream(
      Streams.readParquetStream(spark, efeed.toString, vecs.head.schema,
        maxFilesPerTrigger = 1),
      F.col("vec_id"), F.col("embedding"), dir + "/eidx", dir + "/eout",
      threshold = 0.999, name = "t_ephases", compactEvery = 1))
    for ((stream, descs) <- Seq("dedup" -> dedupDescs, "embed" -> embedDescs);
         b <- 0 until 2; p <- Seq("survivor write", "index append", "fold"))
      assert(descs.exists(d =>
          d.contains("runId = ") && d.endsWith(s"batch = $b: $p")),
        s"no $stream SQL execution of batch $b described as '$p' in:\n" +
          descs.distinct.mkString("\n---\n"))
  }

  test("ingestEmbedStream: survivors grow the IVF index across " +
      "micro-batches; retried segment replaces; self-match hazard pinned " +
      "both ways; fresh-checkpoint rerun appends under a new prefix") {
    import graft.operators.Similarity
    def axis(d: Int): Seq[Double] =
      Seq.tabulate(8)(i => if (i == d) 1.0 else 0.01 * (i + 1))
    def x2(v: Seq[Double]): Seq[Double] = v.map(_ * 2.0) // direction-exact
    val dir = tmp("graft_eingest")
    val corpus = Seq((100L, axis(0))).toDF("vec_id", "embedding")
    val idx = dir + "/idx"
    Similarity.writeIvfIndex(corpus, F.col("vec_id"), F.col("embedding"),
      idx, nlist = 2, trainSample = 10)
    // b0: 1 is a x2 copy of indexed 100 (dies at base); 2 is a fresh
    //     direction (survives, must be APPENDED)
    // b1: 3 is a x2 copy of 2 — it can only die via the appended
    //     survivor; 4 is fresh (survives)
    val b0 = Seq((1L, x2(axis(0))), (2L, axis(2))).toDF("vec_id", "embedding")
    val b1 = Seq((3L, x2(axis(2))), (4L, axis(4))).toDF("vec_id", "embedding")
    val feed = new java.io.File(dir + "/feed"); feed.mkdirs()
    shipFeed(b0, feed, 0, dir + "/tmp0")
    shipFeed(b1, feed, 1, dir + "/tmp1")
    val out = dir + "/out"
    val prefix = Streams.ingestEmbedStream(
      Streams.readParquetStream(spark, feed.toString, b0.schema,
        maxFilesPerTrigger = 1),
      F.col("vec_id"), F.col("embedding"), idx, out, threshold = 0.999,
      name = "t_eingest")
    assert(col1[Long](spark.read.parquet(out).orderBy("vec_id"), "vec_id")
      == Seq(2L, 4L))
    // retried segment: same survivors, dynamic overwrite (count stable)
    val pre = spark.read.parquet(idx + "/assigned").count()
    val retry = Similarity.searchIvfIndex(spark, idx, b1, F.col("vec_id"),
      F.col("embedding"), k = 1, nprobe = Int.MaxValue,
      excludeSegment = Some(s"${prefix}_b1"))
      .filter(F.col("cosine") >= 0.999).select("query_id")
    assert(retry.collect().map(_.getLong(0)).toSeq == Seq(3L))
    Similarity.appendToIvfIndex(
      b1.join(retry.withColumnRenamed("query_id", "vec_id"), Seq("vec_id"),
        "left_anti"),
      F.col("vec_id"), F.col("embedding"), idx, s"${prefix}_b1")
    assert(spark.read.parquet(idx + "/assigned").count() == pre)
    // WITHOUT the exclusion, 4 finds its own earlier segment at cosine 1
    // — the hazard excludeSegment exists for
    val selfHit = Similarity.searchIvfIndex(spark, idx, b1, F.col("vec_id"),
      F.col("embedding"), k = 1, nprobe = Int.MaxValue)
      .filter(F.col("cosine") >= 0.999)
    assert(selfHit.collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    // fresh checkpoint -> new prefix; reprocessed vectors die against
    // their earlier selves, survivor set unchanged
    val prefix2 = Streams.ingestEmbedStream(
      Streams.readParquetStream(spark, feed.toString, b0.schema,
        maxFilesPerTrigger = 1),
      F.col("vec_id"), F.col("embedding"), idx, out, threshold = 0.999,
      name = "t_eingest2")
    assert(prefix2 != prefix)
    assert(col1[Long](spark.read.parquet(out).orderBy("vec_id"), "vec_id")
      == Seq(2L, 4L))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("ingest streams compactEvery: in-line compaction folds committed " +
      "segments with the in-flight one EXCLUDED — a batch replayed after " +
      "the compaction still finds its earlier attempt as a standalone " +
      "segment, so the own-segment exclusion keeps working") {
    import graft.operators.{Dedup, Similarity}
    // ---- MinHash side ----------------------------------------------------
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the sun sets slowly behind the distant purple mountains"
    val other = "completely unrelated text about database query optimization " +
      "and distributed systems running on large compute clusters"
    val pasta = "short interlude about cooking pasta properly al dente " +
      "tonight with garlic and fresh basil from the garden"
    val dir = tmp("graft_compactevery")
    val corpus = Seq((100L, base)).toDF("doc_id", "text")
    val idx = dir + "/idx"
    Dedup.writeMinhashIndex(corpus, F.col("doc_id"), F.col("text"), idx,
      shingleSize = 3, numHashes = 64, bands = 16)
    val b0 = Seq((1L, base.replace("slowly", "quickly")), (2L, pasta))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, pasta), (4L, other)).toDF("doc_id", "text")
    val feed = new java.io.File(dir + "/feed"); feed.mkdirs()
    shipFeed(b0, feed, 0, dir + "/tmp0")
    shipFeed(b1, feed, 1, dir + "/tmp1")
    val out = dir + "/out"
    val prefix = Streams.ingestDedupStream(
      Streams.readParquetStream(spark, feed.toString, b0.schema,
        maxFilesPerTrigger = 1),
      F.col("doc_id"), F.col("text"), idx, out, threshold = 0.5,
      name = "t_cingest", compactEvery = 1)
    // same survivors as the no-compaction twin
    assert(col1[Long](spark.read.parquet(out).orderBy("doc_id"), "doc_id")
      == Seq(2L, 4L))
    // steady state: base + ONLY the last (in-flight at compact time)
    // segment — earlier segments folded
    def segsOf(table: String): Set[String] =
      spark.read.parquet(s"$idx/$table").select("seg").distinct()
        .collect().map(_.getString(0)).toSet
    assert(segsOf("features") == Set("base", s"${prefix}_b1"),
      segsOf("features").toString)
    assert(segsOf("postings").subsetOf(Set("base", s"${prefix}_b1")))
    // the replay contract AFTER an in-line compaction: batch 1's own
    // segment is still standalone, so its exclusion matches and the
    // replayed probe recomputes the same survivors; the re-append
    // dynamic-overwrites (count stable)
    val preFeatures = spark.read.parquet(idx + "/features").count()
    val s1Retry = Dedup.dedupAgainstIndex(b1, F.col("doc_id"),
      F.col("text"), idx, threshold = 0.5,
      excludeSegment = Some(s"${prefix}_b1"))
    assert(col1[Long](s1Retry.orderBy("doc_id"), "doc_id") == Seq(4L))
    Dedup.appendToMinhashIndex(s1Retry, F.col("doc_id"), F.col("text"),
      idx, segment = s"${prefix}_b1")
    assert(spark.read.parquet(idx + "/features").count() == preFeatures)
    // ...and the replayed COMPACTION re-runs idempotently (same exclusion)
    Dedup.compactMinhashIndex(spark, idx,
      excludeSegment = Some(s"${prefix}_b1"))
    assert(segsOf("features") == Set("base", s"${prefix}_b1"))
    assert(col1[Long](Dedup.dedupAgainstIndex(b1, F.col("doc_id"),
      F.col("text"), idx, threshold = 0.5,
      excludeSegment = Some(s"${prefix}_b1")).orderBy("doc_id"), "doc_id")
      == Seq(4L))
    // ---- IVF side --------------------------------------------------------
    def axis(d: Int): Seq[Double] =
      Seq.tabulate(8)(i => if (i == d) 1.0 else 0.01 * (i + 1))
    def x2(v: Seq[Double]): Seq[Double] = v.map(_ * 2.0)
    val ecorpus = Seq((100L, axis(0))).toDF("vec_id", "embedding")
    val eidx = dir + "/eidx"
    Similarity.writeIvfIndex(ecorpus, F.col("vec_id"), F.col("embedding"),
      eidx, nlist = 2, trainSample = 10)
    val e0 = Seq((1L, x2(axis(0))), (2L, axis(2))).toDF("vec_id", "embedding")
    val e1 = Seq((3L, x2(axis(2))), (4L, axis(4))).toDF("vec_id", "embedding")
    val efeed = new java.io.File(dir + "/efeed"); efeed.mkdirs()
    shipFeed(e0, efeed, 0, dir + "/etmp0")
    shipFeed(e1, efeed, 1, dir + "/etmp1")
    val eout = dir + "/eout"
    val eprefix = Streams.ingestEmbedStream(
      Streams.readParquetStream(spark, efeed.toString, e0.schema,
        maxFilesPerTrigger = 1),
      F.col("vec_id"), F.col("embedding"), eidx, eout, threshold = 0.999,
      name = "t_ceingest", compactEvery = 1)
    assert(col1[Long](spark.read.parquet(eout).orderBy("vec_id"), "vec_id")
      == Seq(2L, 4L))
    val esegs = spark.read.parquet(eidx + "/assigned").select("seg")
      .distinct().collect().map(_.getString(0)).toSet
    assert(esegs == Set("base", s"${eprefix}_b1"), esegs.toString)
    // replayed probe post-compaction: own segment still excluded; only 3
    // (copy of appended survivor 2, now folded into base) dies
    val retry = Similarity.searchIvfIndex(spark, eidx, e1, F.col("vec_id"),
      F.col("embedding"), k = 1, nprobe = Int.MaxValue,
      excludeSegment = Some(s"${eprefix}_b1"))
      .filter(F.col("cosine") >= 0.999).select("query_id")
    assert(retry.collect().map(_.getLong(0)).toSeq == Seq(3L))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("ingestEmbedStream over a WHITENED index: batches project through " +
      "the persisted model for probe and append; survivors persist RAW; " +
      "cross-batch kill works through the whitened space") {
    import graft.operators.{Embeddings, Similarity}
    val d = 6
    // deterministic anisotropic corpus (ids 100+) — enough rows for the
    // PCA fit and IVF training
    def hv(r: Int): Seq[Double] = Seq.tabulate(d)(i =>
      (((r * 1315423911L + i * 2654435761L) & 0xffffL).toDouble / 65536.0)
        - 0.5 + (if (i == 0) 2.0 else 0.0) * ((r % 5) - 2))
    val corpus = (0 until 40).map(r => ((100 + r).toLong, hv(r)))
      .toDF("vec_id", "embedding")
    val dir = tmp("graft_weingest")
    val idx = dir + "/idx"
    // pcaK == d: raw and whitened widths agree — only the meta stamp +
    // model routing keeps the stream in the right space
    Embeddings.writeWhitenedIvfIndex(corpus, F.col("vec_id"),
      F.col("embedding"), idx, pcaK = d, nlist = 2, seed = 7,
      trainSample = 50)
    // b0: 1 = EXACT copy of corpus row 100 (identical projection →
    //     whitened cosine exactly 1 → dies at base); 2 = fresh (survives,
    //     appended THROUGH the model)
    // b1: 3 = exact copy of 2 — can only die via the appended whitened
    //     survivor (proves the append landed in the model's space);
    //     4 = fresh (survives)
    val b0 = Seq((1L, hv(0)), (2L, hv(97))).toDF("vec_id", "embedding")
    val b1 = Seq((3L, hv(97)), (4L, hv(83))).toDF("vec_id", "embedding")
    val feed = new java.io.File(dir + "/feed"); feed.mkdirs()
    shipFeed(b0, feed, 0, dir + "/tmp0")
    shipFeed(b1, feed, 1, dir + "/tmp1")
    val out = dir + "/out"
    Streams.ingestEmbedStream(
      Streams.readParquetStream(spark, feed.toString, b0.schema,
        maxFilesPerTrigger = 1),
      F.col("vec_id"), F.col("embedding"), idx, out, threshold = 0.9999,
      name = "t_weingest")
    assert(col1[Long](spark.read.parquet(out).orderBy("vec_id"), "vec_id")
      == Seq(2L, 4L))
    // survivors persisted RAW (the out table is corpus data)
    val rawOut = spark.read.parquet(out).filter(F.col("vec_id") === 2L)
      .select("embedding").collect().head.getSeq[Double](0)
    assert(rawOut == hv(97))
    // ...but the INDEX holds their whitened projections, not raw vectors
    val stored = spark.read.parquet(idx + "/assigned")
      .filter(F.col("corpus_id") === 2L).select("cv")
      .collect().head.getSeq[Double](0)
    val m = Embeddings.readPcaModel(spark, idx)
    val wantProj = Embeddings.pcaProject(
      Seq((2L, hv(97))).toDF("vec_id", "embedding"), F.col("embedding"),
      m, "wv", whiten = true).select("wv").collect().head.getSeq[Double](0)
    assert(stored == wantProj && stored != hv(97))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("a stream run without a checkpoint deletes the temp checkpoint it " +
      "made (runToMemory, ingestDedupStream)") {
    import graft.operators.Dedup
    // the temp checkpoint roots Streams uses: tmpfs when writable, else the
    // JVM temp dir
    def checkpoints(name: String): Set[String] =
      Seq("/dev/shm", System.getProperty("java.io.tmpdir"))
        .flatMap(r => Option(new java.io.File(r).listFiles()).toSeq.flatten)
        .map(_.getPath).filter(p =>
          new java.io.File(p).getName.startsWith(s"graft_ck_$name")).toSet
    val dir = tmp("graft_ckclean")
    val events = Seq(("u1", 1.0), ("u2", 2.0)).toDF("user", "value")
    events.write.parquet(dir + "/ev")
    val before = checkpoints("t_ckclean")
    val res = Streams.runToMemory(
      Streams.readParquetStream(spark, dir + "/ev", events.schema),
      "t_ckclean_mem")
    assert(res.count() == 2)
    val text = "the quick brown fox jumps over the lazy dog again and again " +
      "while the sun sets slowly behind the distant purple mountains"
    Dedup.writeMinhashIndex(Seq((100L, text)).toDF("doc_id", "text"),
      F.col("doc_id"), F.col("text"), dir + "/idx", shingleSize = 3,
      numHashes = 64, bands = 16)
    val feed = new java.io.File(dir + "/feed"); feed.mkdirs()
    shipFeed(Seq((1L, "short interlude about cooking pasta properly al " +
      "dente tonight with garlic and fresh basil")).toDF("doc_id", "text"),
      feed, 0, dir + "/tmp0")
    Streams.ingestDedupStream(
      Streams.readParquetStream(spark, feed.toString,
        new StructType().add("doc_id", LongType).add("text", StringType)),
      F.col("doc_id"), F.col("text"), dir + "/idx", dir + "/out",
      threshold = 0.5, name = "t_ckclean_ingest")
    assert(col1[Long](spark.read.parquet(dir + "/out"), "doc_id") == Seq(1L))
    val leaked = checkpoints("t_ckclean") -- before
    assert(leaked.isEmpty, s"temp checkpoints left behind: $leaked")
  }

  test("runningTotals custom state accumulates per key") {
    val dir = tmp("graft_state")
    val events = Seq(("u1", 1.0), ("u1", 2.0), ("u2", 10.0))
      .toDF("user", "value")
    events.write.parquet(dir + "/ev")
    val s = Streams.readParquetStream(spark, dir + "/ev", events.schema)
    val out = Streams.runningTotals(s, "user", "value")
    val res = Streams.runToMemory(out, "t_state",
      org.apache.spark.sql.streaming.OutputMode.Update())
    // last update per key carries the full running total
    val finalRows = res.groupBy("key")
      .agg(F.max("n").as("n"), F.max("total").as("total"))
      .orderBy("key").collect()
    assert(finalRows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq == Seq(("u1", 2L, 3.0), ("u2", 1L, 10.0)))
  }

  test("sessionize groups events by gap") {
    val dir = tmp("graft_sess")
    val events = Seq(
      ("u1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      ("u1", java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 1.0),
      ("u1", java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), 1.0))
      .toDF("user", "ts", "value")
    events.write.parquet(dir + "/ev")
    val s = Streams.readParquetStream(spark, dir + "/ev", events.schema)
    val out = Streams.runToMemory(
      Streams.sessionize(s, "ts", "10 hours", "30 minutes", Seq("user")),
      "t_sess", org.apache.spark.sql.streaming.OutputMode.Complete())
    assert(out.count() == 2) // two sessions separated by the 3h gap
  }

  test("expireTimePartitions: whole-day directory deletes, day-aligned " +
      "cutoff enforced, commit-logged layout refused") {
    val dir = tmp("graft_expire")
    val dayNs = 86400L * 1000000000L
    val ev = (0 until 9).map(i =>
      (i.toLong, (i / 3).toLong * dayNs + i * 1000L, i * 1.0))
      .toDF("event_id", "ts", "value")
    GraftIO.writeTimePartitioned(ev, "ts", dir + "/layout")
    assert(GraftIO.expireTimePartitions(spark, dir + "/layout", dayNs) == 1)
    val dirs = new java.io.File(dir + "/layout").listFiles
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("__pdate=1970-01-02", "__pdate=1970-01-03"))
    // survivors intact, expired day gone from reads
    assert(spark.read.parquet(dir + "/layout").count() == 6)
    assert(col1[Long](GraftIO.readTimeSlice(spark, dir + "/layout",
      dayNs, 2 * dayNs).orderBy("event_id"), "event_id") == Seq(3L, 4L, 5L))
    // idempotent: nothing left below the cutoff
    assert(GraftIO.expireTimePartitions(spark, dir + "/layout", dayNs) == 0)
    intercept[IllegalArgumentException] {
      GraftIO.expireTimePartitions(spark, dir + "/layout", dayNs + 1)
    }
    // a commit-logged (stream-written) layout is refused
    val logged = new java.io.File(dir + "/layout/_spark_metadata")
    logged.mkdirs()
    intercept[IllegalArgumentException] {
      GraftIO.expireTimePartitions(spark, dir + "/layout", 2 * dayNs)
    }
  }

  test("writeTimeClustered: one layout serves readTimeSlice AND " +
      "two-axis manifest skipping; both prune") {
    val dir = tmp("graft_tc")
    val dayNs = 86400L * 1000000000L
    // 3 days x 300 rows, secondary v uniform per day
    val rows = for (d <- 0L until 3L; i <- 0L until 300L) yield
      (d * 300 + i, d * dayNs + i * 1000000L, i % 100, s"p$i")
    val ev = rows.toDF("event_id", "ts", "v", "payload")
    Manifest.writeTimeClustered(ev, "ts", "v", dir + "/t", targetFiles = 9)
    // reader 1: the classic pruned time slice works unchanged
    val day1 = GraftIO.readTimeSlice(spark, dir + "/t", dayNs, 2 * dayNs)
    assert(day1.count() == 300)
    assert(day1.queryExecution.executedPlan.toString.linesIterator.exists(
      l => l.contains("PartitionFilters") && l.contains("__pdate")))
    // reader 2: two-axis file skipping — day band via ts envelopes,
    // v band via secondary envelopes
    val both = Manifest.readSkippingBands(spark, dir + "/t",
      Seq(("ts", dayNs, 2 * dayNs - 1), ("v", 0L, 29L)))
    assert(both.count() == 90)
    assert(col1[Long](both.orderBy("event_id"), "event_id") ==
      (0L until 300L).filter(_ % 100 < 30).map(_ + 300L))
    // pruning fact: of 9 (day x v-range) files, the composite band
    // keeps at most 2 (one day out of three, low-v slice of its 3)
    val man = Manifest.manifest(spark, dir + "/t")
    assert(man.count() == 9)
    val kept = man.filter(F.col("min_ts") <= 2 * dayNs - 1 &&
      F.col("max_ts") >= dayNs &&
      F.col("min_v") <= 29L && F.col("max_v") >= 0L).count()
    assert(kept <= 2, s"composite band kept $kept of 9 files")
  }

  test("z-order: bands on EITHER column prune files; single-column " +
      "clustering prunes only its own; equality with plain filters") {
    val dir = tmp("graft_zorder")
    // 4096 points on a 64x64 grid — two independent uniform dimensions
    val df = (0L until 4096L).map(i => (i, i % 64L, i / 64L))
      .toDF("id", "x", "y")
    Manifest.writeZOrdered(df, dir + "/z", statsCols = Seq("x", "y"),
      zCols = Seq("x", "y"), targetFiles = 16)
    Manifest.writeWithManifest(df, dir + "/xonly",
      statsCols = Seq("x", "y"), clusterCols = Seq("x"), targetFiles = 16)
    def opened(path: String, col: String, lo: Long, hi: Long): Long =
      Manifest.manifest(spark, path)
        .filter(F.col(s"min_$col") <= hi && F.col(s"max_$col") >= lo)
        .count()
    // a 1/8-wide band on x: both layouts prune
    assert(opened(dir + "/z", "x", 0L, 7L) < 16)
    assert(opened(dir + "/xonly", "x", 0L, 7L) <= 3)
    // a 1/8-wide band on y: z-order prunes, x-clustering CANNOT (every
    // file spans all of y)
    assert(opened(dir + "/z", "y", 0L, 7L) < 16,
      s"z layout did not prune on y: ${opened(dir + "/z", "y", 0L, 7L)}")
    assert(opened(dir + "/xonly", "y", 0L, 7L) == 16)
    // correctness: banded reads equal plain filters on both dimensions
    assert(col1[Long](Manifest.readSkipping(spark, dir + "/z", "y", 0L, 7L)
      .orderBy("id"), "id") == (0L until 512L))
    assert(Manifest.readSkippingBands(spark, dir + "/z",
      Seq(("x", 0L, 7L), ("y", 0L, 7L))).count() == 64)
    // guards: 1 column is plain clustering, >4 dilutes
    intercept[IllegalArgumentException] {
      Manifest.writeZOrdered(df, dir + "/bad", Seq("x"), Seq("x"), 4)
    }
  }

  test("rollup: cross-segment day merge, retry replaces, compaction " +
      "view-equal and folds to base, day band prunes partitions") {
    val dir = tmp("graft_rollup")
    val dayNs = 86400L * 1000000000L
    // id 5 carries a NULL value: counted by n (a row) but not nv (the
    // mean denominator) — sum/min/max ignore it
    val ev = Seq(
      (1L, "a", Option(1.0), 5L), (2L, "a", Option(2.0), 6L),
      (3L, "b", Option(3.0), dayNs + 7L), (4L, "a", Option(4.0), dayNs + 8L),
      (5L, "a", Option.empty[Double], dayNs + 9L))
      .toDF("id", "k", "v", "ts")
    import graft.operators.Rollup
    Rollup.buildRollup(ev.filter(F.col("id") <= 2), "ts", Seq("k"), "v",
      dir + "/r")
    val b = ev.filter(F.col("id") > 2)
    Rollup.appendRollup(b, "ts", Seq("k"), "v", dir + "/r", "b0")
    // at-least-once retry: same segment id must REPLACE, not double-count
    Rollup.appendRollup(b, "ts", Seq("k"), "v", dir + "/r", "b0")
    def view = Rollup.readRollup(spark, dir + "/r").orderBy("day", "k")
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    val before = view
    assert(before == Seq(
      ("1970-01-01", "a", 2L, 2L, 3.0, 1.0, 2.0),
      ("1970-01-02", "a", 2L, 1L, 4.0, 4.0, 4.0),
      ("1970-01-02", "b", 1L, 1L, 3.0, 3.0, 3.0)))
    Rollup.compactRollup(spark, dir + "/r")
    assert(view == before, "compaction changed the combined view")
    assert(new java.io.File(dir + "/r").listFiles
      .filter(_.isDirectory).map(_.getName).toSeq == Seq("seg=base"))
    // inclusive day band becomes a partition filter on the tiny scan
    val banded = Rollup.readRollup(spark, dir + "/r",
      Some((java.sql.Date.valueOf("1970-01-02"),
        java.sql.Date.valueOf("1970-01-02"))))
    assert(banded.count() == 2)
    val plan = banded.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("__pdate")),
      s"day band not a partition filter:\n$plan")
    intercept[IllegalArgumentException] {
      Rollup.appendRollup(b, "ts", Seq("k"), "v", dir + "/r", "base")
    }
  }

  test("manifest skipping: clustered files pruned by envelope, equality " +
      "with full-scan filter, loud without a manifest") {
    val dir = tmp("graft_manifest")
    val df = (0L until 800L).map(i => (i, i, s"r$i"))
      .toDF("id", "v", "payload")
    Manifest.writeWithManifest(df, dir + "/t", statsCols = Seq("v"),
      clusterCols = Seq("v"), targetFiles = 8)
    // one manifest row per data file, disjoint-ish envelopes
    val man = Manifest.manifest(spark, dir + "/t")
    assert(man.count() == 8)
    assert(col1[Long](man.selectExpr("sum(rows) as s"), "s") == Seq(800L))
    // skipped read == full-scan filter (values and count)
    val got = Manifest.readSkipping(spark, dir + "/t", "v", 100L, 150L)
    assert(col1[Long](got.orderBy("id"), "id") == (100L to 150L))
    // the range covers ~51 of 800 range-clustered rows: at most 2 of the
    // 8 files survive the envelope test — an IO fact, via numFiles
    got.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val n = scans(got.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    assert(n >= 1 && n <= 2, s"envelope pruning touched $n of 8 files")
    // an empty slice opens zero files and keeps the schema
    val none = Manifest.readSkipping(spark, dir + "/t", "v", 5000L, 6000L)
    assert(none.columns.toSeq == Seq("id", "v", "payload"))
    assert(none.count() == 0)
    // nulls: a file of only-null v contributes nothing, and the residual
    // filter agrees (null never satisfies the range)
    val withNull = df.union(Seq((900L, "n")).toDF("id", "payload")
      .withColumn("v", F.lit(null).cast("long"))
      .select("id", "v", "payload"))
    Manifest.writeWithManifest(withNull, dir + "/t2", statsCols = Seq("v"))
    val all = Manifest.readSkipping(spark, dir + "/t2", "v", 0L, 1000L)
    assert(all.count() == 800)
    // loud contracts: missing manifest, un-manifested column
    intercept[IllegalArgumentException] {
      df.write.parquet(dir + "/bare")
      Manifest.readSkipping(spark, dir + "/bare", "v", 0L, 1L)
    }
    intercept[IllegalArgumentException] {
      Manifest.readSkipping(spark, dir + "/t", "payload", "a", "b")
    }
    // incremental append under a segment: stats harvested from the new
    // segment's files only, and a RETRY of the same segment replaces its
    // previous attempt — never double-lists (= double-reads) a file
    val extra = (1000L until 1100L).map(i => (i, i, s"x$i"))
      .toDF("id", "v", "payload")
    Manifest.appendWithManifest(extra, dir + "/t", segment = "b0",
      clusterCols = Seq("v"), targetFiles = 2)
    Manifest.appendWithManifest(extra, dir + "/t", segment = "b0",
      clusterCols = Seq("v"), targetFiles = 2) // at-least-once retry
    val man2 = Manifest.manifest(spark, dir + "/t")
    assert(man2.count() == 10) // 8 original + 2 appended, retry replaced
    assert(man2.select("file").distinct().count() == 10)
    assert(col1[Long](man2.selectExpr("sum(rows) as s"), "s") == Seq(900L))
    intercept[IllegalArgumentException] {
      Manifest.appendWithManifest(extra, dir + "/t", segment = "base")
    }
    // a band fully inside the appended range touches only appended files
    val app = Manifest.readSkipping(spark, dir + "/t", "v", 1000L, 1049L)
    assert(app.count() == 50)
    // and the whole corpus reads back exactly once
    assert(Manifest.readSkipping(spark, dir + "/t", "v", 0L, 2000L)
      .count() == 900)
    // composite bands: AND of two declared columns, equality with the
    // plain double filter; a band on an un-declared column stays loud
    Manifest.writeWithManifest(df.withColumn("v2", F.col("v") % 100),
      dir + "/t3", statsCols = Seq("v", "v2"), clusterCols = Seq("v"),
      targetFiles = 8)
    val both = Manifest.readSkippingBands(spark, dir + "/t3",
      Seq(("v", 100L, 300L), ("v2", 0L, 49L)))
    assert(col1[Long](both.orderBy("id"), "id") ==
      (100L to 300L).filter(_ % 100 <= 49))
    intercept[IllegalArgumentException] {
      Manifest.readSkippingBands(spark, dir + "/t3",
        Seq(("v", 0L, 1L), ("payload", "a", "b")))
    }
  }

  test("manifest writers refuse the layout's reserved data columns " +
      "(seg would be silently replaced + partition-encoded away)") {
    val dir = tmp("graft_manifest_reserved")
    val withSeg = Seq((1L, 2L, "s")).toDF("id", "v", "seg")
    val e1 = intercept[IllegalArgumentException] {
      Manifest.writeWithManifest(withSeg, dir + "/a", statsCols = Seq("v"))
    }
    assert(e1.getMessage.contains("seg"))
    val withFile = Seq((1L, 2L, "f")).toDF("id", "v", "file")
    intercept[IllegalArgumentException] {
      Manifest.writeWithManifest(withFile, dir + "/b", statsCols = Seq("v"))
    }
    // append path guards the same names
    Manifest.writeWithManifest(Seq((1L, 2L)).toDF("id", "v"), dir + "/c",
      statsCols = Seq("v"))
    intercept[IllegalArgumentException] {
      Manifest.appendWithManifest(withSeg, dir + "/c", segment = "b0")
    }
    intercept[IllegalArgumentException] {
      Manifest.appendWithManifest(withFile, dir + "/c", segment = "b0")
    }
  }

  test("keyed lake mutation: deleteKeys rewrites only envelope-affected " +
      "files, upsert merges, retries are idempotent, vacuum reclaims " +
      "orphans") {
    val dir = tmp("graft_lake_mut")
    val df = (0L until 800L).map(i => (i, i, s"r$i"))
      .toDF("id", "v", "payload")
    Manifest.writeWithManifest(df, dir + "/t", statsCols = Seq("id"),
      clusterCols = Seq("id"), targetFiles = 8)
    // a narrow id band deletes by rewriting 1-2 of the 8 range-clustered
    // files — the pruned-rewrite economics, observed via the return value
    val delKeys = (100L until 120L).toDF("id")
    val rewritten = Manifest.deleteKeys(spark, dir + "/t", "id",
      delKeys, segment = "d0")
    assert(rewritten >= 1 && rewritten <= 2, s"rewrote $rewritten files")
    def ids(): Seq[Long] = col1[Long](Manifest.readSkipping(spark,
      dir + "/t", "id", 0L, 5000L).orderBy("id"), "id")
    val expectAfterDelete = (0L until 800L).filterNot(i => i >= 100 && i < 120)
    assert(ids() == expectAfterDelete)
    // manifest row counts stay exact
    assert(col1[Long](Manifest.manifest(spark, dir + "/t")
      .selectExpr("sum(rows) as s"), "s") == Seq(780L))
    // a completed delete RETRIED under the same segment id is a no-op
    assert(Manifest.deleteKeys(spark, dir + "/t", "id", delKeys, "d0") == 0)
    assert(ids() == expectAfterDelete)
    // loud contracts: null key, un-manifested key column, two-column keys
    val e = intercept[Throwable] {
      Manifest.deleteKeys(spark, dir + "/t", "id",
        Seq(Some(1L), None).toDF("id"), "d1")
    }
    assert(e.getMessage.contains("null"), e.getMessage)
    // an uncastable key (string vs the long column) must not become a
    // silent null that deletes nothing
    val eCast = intercept[Throwable] {
      Manifest.deleteKeys(spark, dir + "/t", "id",
        Seq("abc").toDF("id"), "d4")
    }
    assert(eCast.getMessage.contains("uncastable"), eCast.getMessage)
    intercept[IllegalArgumentException] {
      Manifest.deleteKeys(spark, dir + "/t", "payload",
        Seq("r5").toDF("payload"), "d2")
    }
    intercept[IllegalArgumentException] {
      Manifest.deleteKeys(spark, dir + "/t", "id",
        delKeys.withColumn("x", F.lit(1)), "d3")
    }
    // upsert: 10 updated rows (new v/payload) + 10 inserted rows
    val batch = ((150L until 160L).map(i => (i, i * 10, s"u$i")) ++
      (900L until 910L).map(i => (i, i, s"n$i")))
      .toDF("id", "v", "payload")
    val up = Manifest.upsert(batch, dir + "/t", "id", segment = "b1",
      clusterCols = Seq("id"), targetFiles = 1)
    assert(up >= 1, s"upsert rewrote $up files")
    val expectMerged = expectAfterDelete ++ (900L until 910L)
    assert(ids() == expectMerged.sorted)
    def vOf(): Map[Long, Long] = Manifest.readSkipping(spark, dir + "/t",
      "id", 0L, 5000L).select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v1 = vOf()
    (150L until 160L).foreach(i => assert(v1(i) == i * 10, s"id $i"))
    assert(v1(200L) == 200L && v1(905L) == 905L)
    // the whole upsert retried under the same segment id converges to the
    // same state (append replaces its own segment, delete self-excludes)
    Manifest.upsert(batch, dir + "/t", "id", segment = "b1",
      clusterCols = Seq("id"), targetFiles = 1)
    assert(ids() == expectMerged.sorted)
    assert(vOf() == v1)
    // rw_ prefix reserved for the delete step's rewrite namespace
    intercept[IllegalArgumentException] {
      Manifest.upsert(batch, dir + "/t", "id", segment = "rw_x")
    }
    // segment ids that Spark would percent-escape in partition paths are
    // refused everywhere (an escaped dir is invisible to the substring
    // self-exclusion — in upsert that would DELETE the batch itself)
    intercept[IllegalArgumentException] {
      Manifest.deleteKeys(spark, dir + "/t", "id", delKeys, "b:1")
    }
    intercept[IllegalArgumentException] {
      Manifest.upsert(batch, dir + "/t", "id", segment = "b 1")
    }
    intercept[IllegalArgumentException] {
      Manifest.appendWithManifest(batch, dir + "/t", segment = "b%1")
    }
    // schema drift is refused loudly BEFORE anything durably lands: a
    // renamed/missing/extra column would otherwise be silently nulled or
    // dropped by single-schema parquet reads of the mixed segments
    val driftE = intercept[IllegalArgumentException] {
      Manifest.upsert(batch.withColumnRenamed("payload", "body"),
        dir + "/t", "id", segment = "b8")
    }
    assert(driftE.getMessage.contains("batch columns"), driftE.getMessage)
    intercept[IllegalArgumentException] {
      Manifest.appendWithManifest(batch.withColumn("extra", F.lit(1)),
        dir + "/t", segment = "b8")
    }
    // upsert validates BEFORE the append commits: a bad key column or a
    // duplicate-key batch must not leave the appended segment behind
    val before = ids()
    intercept[IllegalArgumentException] {
      Manifest.upsert(batch, dir + "/t", "payload", segment = "b9")
    }
    intercept[IllegalArgumentException] {
      Manifest.upsert(batch.unionAll(batch.limit(1)), dir + "/t", "id",
        segment = "b9")
    }
    intercept[IllegalArgumentException] {
      Manifest.upsert(batch.unionAll(
          Seq((Option.empty[Long], 1L, "x")).toDF("id", "v", "payload")),
        dir + "/t", "id", segment = "b9")
    }
    assert(ids() == before) // nothing durably changed
    // orphans: a stray data file under a seg dir (a crashed mutation's
    // debris) is invisible to manifest readers and reclaimed by vacuum
    val strayDir = new java.io.File(dir + "/t/seg=stray")
    df.limit(5).drop("id").withColumn("id", F.lit(99999L))
      .select("id", "v", "payload")
      .write.mode("overwrite").parquet(strayDir.toString)
    assert(ids() == expectMerged.sorted) // reader never sees the stray
    val vacuumed = Manifest.vacuum(spark, dir + "/t")
    assert(vacuumed >= 1, s"vacuum removed $vacuumed")
    assert(!strayDir.exists() ||
      strayDir.listFiles().forall(f => f.getName.startsWith("_") ||
        f.getName.startsWith(".")))
    assert(ids() == expectMerged.sorted) // and removed nothing live
    // vacuum again: nothing left to reclaim
    assert(Manifest.vacuum(spark, dir + "/t") == 0)
  }

  test("segmented manifest: mutations accrete parts/tombstones instead " +
      "of rewriting the manifest; compactManifest folds them; view " +
      "equality holds throughout; compaction retry is idempotent") {
    val dir = tmp("graft_man_lsm")
    val df = (0L until 400L).map(i => (i, s"r$i")).toDF("id", "payload")
    Manifest.writeWithManifest(df, dir + "/t", statsCols = Seq("id"),
      clusterCols = Seq("id"), targetFiles = 4)
    def ids(): Seq[Long] = col1[Long](Manifest.readSkipping(spark,
      dir + "/t", "id", 0L, 5000L).orderBy("id"), "id")
    def partDirs(): Seq[String] = new java.io.File(dir + "/t/_manifest/parts")
      .listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted
    def tombstones(): Long = spark.read
      .parquet(dir + "/t/_manifest/parts").filter("rows is null").count()
    assert(partDirs() == Seq("seg=base"))
    // two appends + one delete: each mutation adds its OWN part (and the
    // delete a tombstone) — base is never rewritten
    Manifest.appendWithManifest(
      (400L until 450L).map(i => (i, s"a$i")).toDF("id", "payload"),
      dir + "/t", segment = "b1")
    Manifest.appendWithManifest(
      (450L until 500L).map(i => (i, s"a$i")).toDF("id", "payload"),
      dir + "/t", segment = "b2")
    val rewrote = Manifest.deleteKeys(spark, dir + "/t", "id",
      (10L until 20L).toDF("id"), segment = "d1")
    assert(rewrote >= 1)
    val expect = (0L until 500L).filterNot(i => i >= 10 && i < 20)
    assert(ids() == expect)
    assert(partDirs().toSet ==
      Set("seg=base", "seg=b1", "seg=b2", "seg=d1"), partDirs().toString)
    assert(tombstones() >= 1) // the delete's retired files, null-stat rows
    val manBefore = Manifest.manifest(spark, dir + "/t")
      .orderBy("file").collect().toSeq
    // compaction folds parts + tombstones into ONE part, view unchanged
    val n = Manifest.compactManifest(spark, dir + "/t", "c1")
    assert(n == manBefore.size)
    assert(partDirs() == Seq("seg=c1"))
    assert(Manifest.manifest(spark, dir + "/t")
      .orderBy("file").collect().toSeq == manBefore)
    assert(ids() == expect)
    // retried compaction under the same id converges (replaces itself)
    // and drops the now-targetless carried tombstones (self-cleaning)
    assert(Manifest.compactManifest(spark, dir + "/t", "c1") == n)
    assert(ids() == expect)
    assert(tombstones() == 0)
    // post-compaction mutations still work against the folded manifest
    Manifest.upsert(Seq((15L, "back"), (600L, "new")).toDF("id", "payload"),
      dir + "/t", "id", segment = "b3")
    assert(ids() == (expect :+ 15L :+ 600L).sorted)
  }

  test("manifest time travel: as-of reads reproduce each commit's state " +
      "under retainFiles; compaction collapses history loudly; vacuum " +
      "ends it") {
    val dir = tmp("graft_man_tt")
    val df = (0L until 300L).map(i => (i, s"r$i")).toDF("id", "payload")
    Manifest.writeWithManifest(df, dir + "/t", statsCols = Seq("id"),
      clusterCols = Seq("id"), targetFiles = 4) // commit 0
    def idsAsOf(c: Option[Long]): Seq[Long] = col1[Long](
      c.fold(Manifest.readSkipping(spark, dir + "/t", "id", 0L, 5000L))(cc =>
        Manifest.readSkipping(spark, dir + "/t", "id", 0L, 5000L,
          asOf = Some(cc))).orderBy("id"), "id")
    // commit 1: delete a band, retaining retired files for time travel
    Manifest.deleteKeys(spark, dir + "/t", "id", (50L until 60L).toDF("id"),
      segment = "d1", retainFiles = true)
    // commit 2: an upsert — its batch part AND its rw_ delete part share
    // ONE commit number (the MERGE is a single addressable version; no
    // as-of commit exposes the mid-merge duplicate state)
    Manifest.upsert(Seq((55L, "back"), (400L, "new")).toDF("id", "payload"),
      dir + "/t", "id", segment = "b1", retainFiles = true)
    val v0 = (0L until 300L)
    val v1 = v0.filterNot(i => i >= 50 && i < 60)
    val v3 = (v1 :+ 55L :+ 400L).sorted
    assert(idsAsOf(None) == v3)
    assert(idsAsOf(Some(0L)) == v0) // pre-delete
    assert(idsAsOf(Some(1L)) == v1) // post-delete
    assert(idsAsOf(Some(2L)) == v3) // the whole merge, atomically
    // commit history is discoverable, and the upsert's two segments
    // (b1 + rw_b1) really share one commit number
    val commitRows = Manifest.manifestCommits(spark, dir + "/t")
      .select("commit", "segment").collect()
      .map(r => r.getLong(0) -> String.valueOf(r.get(1)))
    val commits = commitRows.map(_._1).distinct.sorted.toSeq
    assert(commits == Seq(0L, 1L, 2L), commits.toString)
    assert(commitRows.filter(_._2.startsWith("b1")).map(_._1).toSet ==
      commitRows.filter(_._2 == "rw_b1").map(_._1).toSet,
      commitRows.mkString(", "))
    // asking past the end is just the current view; compaction collapses
    // history and older asks fail LOUD
    assert(idsAsOf(Some(99L)) == v3)
    Manifest.compactManifest(spark, dir + "/t", "c1")
    assert(idsAsOf(None) == v3)
    assert(idsAsOf(Some(2L)) == v3) // the compaction's own commit survives
    val e = intercept[IllegalArgumentException] { idsAsOf(Some(1L)) }
    assert(e.getMessage.contains("compacted away"), e.getMessage)
    // vacuum reclaims the retained (now-unlisted) retired files: current
    // reads unaffected — time travel to pre-delete states is over
    assert(Manifest.vacuum(spark, dir + "/t") >= 1)
    assert(idsAsOf(None) == v3)
  }

  test("compacting an all-rows-deleted table keeps the layout readable " +
      "and appendable (empty-but-present compact part, commits preserved)") {
    val dir = tmp("graft_man_empty")
    val df = (0L until 100L).map(i => (i, s"r$i")).toDF("id", "payload")
    Manifest.writeWithManifest(df, dir + "/t", statsCols = Seq("id"),
      clusterCols = Seq("id"), targetFiles = 2)
    // delete EVERYTHING, then compact: the zero-row compact part must
    // still land as a schema-bearing file — destroying the manifest here
    // would make a logically-empty-but-existing table unreadable
    assert(Manifest.deleteKeys(spark, dir + "/t", "id",
      (0L until 100L).toDF("id"), segment = "d1") >= 1)
    assert(Manifest.manifest(spark, dir + "/t").count() == 0)
    assert(Manifest.compactManifest(spark, dir + "/t", "c1") == 0L)
    // the second (retried) compaction drops the now-targetless carried
    // tombstones — its compact part is LITERALLY ZERO ROWS, the case
    // that used to vanish under dynamic overwrite and destroy the layout
    assert(Manifest.compactManifest(spark, dir + "/t", "c1") == 0L)
    // readable: manifest() answers (empty), no "no manifest" failure
    assert(Manifest.manifest(spark, dir + "/t").count() == 0)
    // appendable: schema (stats cols) survives in the empty part, and
    // commit numbering continues from the floor instead of restarting
    Manifest.appendWithManifest(
      (200L until 210L).map(i => (i, s"n$i")).toDF("id", "payload"),
      dir + "/t", segment = "b1")
    assert(col1[Long](Manifest.readSkipping(spark, dir + "/t", "id",
      0L, 5000L).orderBy("id"), "id") == (200L until 210L))
    val commits = Manifest.manifestCommits(spark, dir + "/t")
      .select("commit").collect().map(_.getLong(0))
    assert(commits.max > 1L, // floor carried the pre-compaction numbering
      s"append after empty compaction restarted commits: ${commits.toSeq}")
  }

  test("compaction floor: as-of below the floor is refused loudly even " +
      "when a crash-surviving old part is still on disk") {
    val dir = tmp("graft_man_floor")
    val df = (0L until 200L).map(i => (i, s"r$i")).toDF("id", "payload")
    Manifest.writeWithManifest(df, dir + "/t", statsCols = Seq("id"),
      clusterCols = Seq("id"), targetFiles = 4) // commit 0
    Manifest.deleteKeys(spark, dir + "/t", "id", (10L until 20L).toDF("id"),
      segment = "d1", retainFiles = true) // commit 1
    Manifest.appendWithManifest(
      (300L until 320L).map(i => (i, s"a$i")).toDF("id", "payload"),
      dir + "/t", segment = "b1") // commit 2
    val expect = ((0L until 200L).filterNot(i => i >= 10 && i < 20) ++
      (300L until 320L)).sorted
    def ids(asOf: Option[Long]): Seq[Long] = col1[Long](
      Manifest.readSkipping(spark, dir + "/t", "id", 0L, 5000L,
        asOf = asOf).orderBy("id"), "id")
    // simulate the crash: keep a copy of an OLD part dir, compact (which
    // deletes it), then restore the copy — a surviving old part whose
    // min(__commit) would have passed the old "compacted away" guard
    val parts = new java.io.File(dir + "/t/_manifest/parts")
    val oldPart = new java.io.File(parts, "seg=base")
    val stash = new java.io.File(dir + "/stash")
    org.apache.commons.io.FileUtils.copyDirectory(oldPart, stash)
    Manifest.compactManifest(spark, dir + "/t", "c1")
    org.apache.commons.io.FileUtils.copyDirectory(stash,
      new java.io.File(parts, "seg=base"))
    // the restored low-commit part must NOT re-open pre-floor history:
    // reconstructing from a surviving subset would be silently partial
    val e = intercept[IllegalArgumentException] { ids(Some(0L)) }
    assert(e.getMessage.contains("history before commit") &&
      e.getMessage.contains("compacted away"), e.getMessage)
    // and the CURRENT view is unaffected (dedup-by-file + carried
    // tombstones make old-part survival harmless)
    assert(ids(None) == expect)
    assert(ids(Some(2L)) == expect) // the floor commit itself serves
  }

  test("manifestCommits fails loud on an un-manifested path, like every " +
      "other entry point") {
    val dir = tmp("graft_man_nocommits")
    val e = intercept[IllegalArgumentException] {
      Manifest.manifestCommits(spark, dir + "/nothere").collect()
    }
    assert(e.getMessage.contains("no manifest at") &&
      e.getMessage.contains("writeWithManifest"), e.getMessage)
  }

  test("compactManifest keepLast retains a bounded as-of window: the " +
      "newest n commits stay servable, older are refused at the floor") {
    val dir = tmp("graft_man_keep")
    val df = (0L until 100L).map(i => (i, s"r$i")).toDF("id", "payload")
    Manifest.writeWithManifest(df, dir + "/t", statsCols = Seq("id"),
      clusterCols = Seq("id"), targetFiles = 2) // commit 0
    (1 to 4).foreach { k => // commits 1..4
      Manifest.deleteKeys(spark, dir + "/t", "id",
        Seq(k.toLong * 10).toDF("id"), segment = s"d$k",
        retainFiles = true)
    }
    def ids(asOf: Option[Long]): Seq[Long] = col1[Long](
      Manifest.readSkipping(spark, dir + "/t", "id", 0L, 5000L,
        asOf = asOf).orderBy("id"), "id")
    def after(ks: Seq[Long]): Seq[Long] =
      (0L until 100L).filterNot(i => ks.map(_ * 10).contains(i)).sorted
    // keep the newest 2 commits (3, 4): the fold's stamp is commit 2 —
    // the floor — so 2, 3, 4 stay servable and 0, 1 are gone
    val live = Manifest.compactManifest(spark, dir + "/t", "c1",
      keepLast = 2)
    assert(live == Manifest.manifest(spark, dir + "/t").count())
    assert(ids(Some(2L)) == after(Seq(1L, 2L)))
    assert(ids(Some(3L)) == after(Seq(1L, 2L, 3L)))
    assert(ids(Some(4L)) == after(Seq(1L, 2L, 3L, 4L)))
    assert(ids(None) == after(Seq(1L, 2L, 3L, 4L)))
    val e = intercept[IllegalArgumentException] { ids(Some(1L)) }
    assert(e.getMessage.contains("history before commit 2"), e.getMessage)
    // part count is bounded: kept parts + the compact part
    val partDirs = new java.io.File(dir + "/t/_manifest/parts")
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(partDirs == Set("seg=c1", "seg=d3", "seg=d4"),
      partDirs.toString)
    // a later full compaction (keepLast = 0) advances the floor to the
    // max commit and collapses the window behind it
    Manifest.compactManifest(spark, dir + "/t", "c2")
    assert(ids(Some(4L)) == after(Seq(1L, 2L, 3L, 4L)))
    val e2 = intercept[IllegalArgumentException] { ids(Some(3L)) }
    assert(e2.getMessage.contains("compacted away"), e2.getMessage)
  }

  test("compactManifest distributed fold (forced via driverFoldMaxBytes " +
      "= 0) matches the driver fold: view equality, retry idempotence, " +
      "keepLast window, empty table") {
    // the size-routed big-manifest fold never materializes the manifest
    // on the driver; its semantics must be indistinguishable from the
    // collect-based fold the other specs pin
    val dir = tmp("graft_man_dist")
    val df = (0L until 400L).map(i => (i, s"r$i")).toDF("id", "payload")
    Manifest.writeWithManifest(df, dir + "/t", statsCols = Seq("id"),
      clusterCols = Seq("id"), targetFiles = 4) // commit 0
    Manifest.appendWithManifest(
      (400L until 450L).map(i => (i, s"a$i")).toDF("id", "payload"),
      dir + "/t", segment = "b1") // commit 1
    Manifest.deleteKeys(spark, dir + "/t", "id",
      (10L until 20L).toDF("id"), segment = "d1",
      retainFiles = true) // commit 2
    Manifest.deleteKeys(spark, dir + "/t", "id",
      (30L until 35L).toDF("id"), segment = "d2",
      retainFiles = true) // commit 3
    def ids(asOf: Option[Long] = None, t: String = "/t"): Seq[Long] =
      col1[Long](Manifest.readSkipping(spark, dir + t, "id", 0L, 5000L,
        asOf = asOf).orderBy("id"), "id")
    val expect = (0L until 450L)
      .filterNot(i => (i >= 10 && i < 20) || (i >= 30 && i < 35))
    assert(ids() == expect)
    val manBefore = Manifest.manifest(spark, dir + "/t")
      .orderBy("file").collect().toSeq
    def partDirs(t: String = "/t"): Set[String] =
      new java.io.File(dir + t + "/_manifest/parts")
        .listFiles().filter(_.isDirectory).map(_.getName).toSet
    // keepLast = 1 through the DISTRIBUTED path: commit 3 stays
    // servable, the fold's stamp is commit 2, older is refused
    val live = Manifest.compactManifest(spark, dir + "/t", "c1",
      keepLast = 1, driverFoldMaxBytes = 0L)
    assert(live == manBefore.size, s"$live != ${manBefore.size}")
    assert(Manifest.manifest(spark, dir + "/t")
      .orderBy("file").collect().toSeq == manBefore)
    assert(ids() == expect)
    assert(ids(Some(2L)) == (0L until 450L)
      .filterNot(i => i >= 10 && i < 20))
    assert(ids(Some(3L)) == expect)
    assert(partDirs() == Set("seg=c1", "seg=d2"), partDirs().toString)
    intercept[IllegalArgumentException] { ids(Some(1L)) }
    // full fold, then an identical RETRY — distributed on the layout,
    // and on the driver route over a copy of the same parts (its rows
    // name the same data files): converges, drops targetless carried
    // tombstones, view stays equal, one part file and nothing else left
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(dir + "/t"), new java.io.File(dir + "/tDriver"))
    for ((t, thr) <- Seq(("/t", 0L), ("/tDriver", Long.MaxValue))) {
      val n2 = Manifest.compactManifest(spark, dir + t, "c2",
        driverFoldMaxBytes = thr)
      assert(n2 == manBefore.size, t)
      assert(Manifest.compactManifest(spark, dir + t, "c2",
        driverFoldMaxBytes = thr) == n2, t)
      assert(partDirs(t) == Set("seg=c2"), partDirs(t).toString)
      def visible(p: String) = new java.io.File(dir + t + p).list().toSeq
        .filterNot(n => n.startsWith(".") || n.startsWith("_"))
      assert(visible("/_manifest/parts/seg=c2").size == 1, t)
      assert(visible("/_manifest").toSet == Set("parts", "floor"), t)
      assert(Manifest.manifest(spark, dir + t)
        .orderBy("file").collect().toSeq == manBefore, t)
      assert(spark.read.parquet(dir + t + "/_manifest/parts")
        .filter("rows is null").count() == 0, t) // self-cleaned
      assert(ids(t = t) == expect, t)
    }
    // post-fold mutations still work
    Manifest.upsert(Seq((15L, "back"), (600L, "new")).toDF("id", "payload"),
      dir + "/t", "id", segment = "b2")
    assert(ids() == (expect :+ 15L :+ 600L).sorted)
    // all-rows-deleted through the distributed path: empty-but-present
    // compact part, layout stays readable, retry stays at zero
    Manifest.deleteKeys(spark, dir + "/t", "id",
      ids().toDF("id"), segment = "dAll")
    assert(Manifest.compactManifest(spark, dir + "/t", "c3",
      driverFoldMaxBytes = 0L) == 0L)
    assert(Manifest.compactManifest(spark, dir + "/t", "c3",
      driverFoldMaxBytes = 0L) == 0L)
    assert(Manifest.manifest(spark, dir + "/t").count() == 0)
  }

  test("distributed fold detects a multi-commit foreign part via footer " +
      "min/max and falls back to per-row commits — semantics equal the " +
      "driver fold (same stamp, same refused as-of window)") {
    val dir = tmp("graft_man_multicommit")
    // twin layouts; the fold label and threshold are the only knobs
    def build(t: String): Unit = {
      Manifest.writeWithManifest((0L until 100L).map(i => (i, s"r$i"))
        .toDF("id", "payload"), dir + t, statsCols = Seq("id"),
        clusterCols = Seq("id"), targetFiles = 2) // commit 0
      // one FOREIGN part holding commits {1, 2} in a single file: commit
      // 1 tombstones a synthetic file, commit 2 lists another — per-ROW
      // fold semantics the footer max alone would mangle (the pre-fix
      // distributed fold read this part as "commit 2" and stamped the
      // fold at 0 instead of the driver fold's 1)
      Seq(("synth/f1", Option.empty[Long], 1L),
        ("synth/f2", Some(50L), 2L))
        .toDF("file", "rows", "__commit")
        .select(F.col("file"), F.col("rows"),
          F.col("rows").as("min_id"), F.col("rows").as("max_id"),
          F.col("__commit"))
        .coalesce(1).write.mode("overwrite")
        .parquet(dir + t + "/_manifest/parts/seg=foreign")
    }
    build("/tA"); build("/tB")
    val liveDist = Manifest.compactManifest(spark, dir + "/tA", "cX",
      keepLast = 1, driverFoldMaxBytes = 0L)
    val liveDriver = Manifest.compactManifest(spark, dir + "/tB", "cX",
      keepLast = 1, driverFoldMaxBytes = Long.MaxValue)
    assert(liveDist == liveDriver)
    // twin layouts live at different roots — compare path-normalized
    def man(t: String) = Manifest.manifest(spark, dir + t)
      .withColumn("file",
        F.regexp_extract(F.col("file"), "(part-\\d+|synth/.*)", 1))
      .orderBy("file").collect().toSeq
    assert(man("/tA") == man("/tB"))
    // both folds stamp at commit 1 (the max FOLDED commit under
    // keepLast = 1 over per-row commits {0, 1, 2}); as-of 0 is refused
    // on BOTH — the pre-fix distributed fold stamped 0 and kept serving
    // it, silently diverging from the driver fold's history window
    Seq("/tA", "/tB").foreach { t =>
      assert(Manifest.manifestAsOf(spark, dir + t, 1).count() > 0)
      val e = intercept[IllegalArgumentException] {
        Manifest.manifestAsOf(spark, dir + t, 0).collect()
      }
      assert(e.getMessage.contains("compacted away"), e.getMessage)
    }
  }

  test("manifest operations accept column names needing backtick quoting " +
      "(dots): write, skip-read, deleteKeys, upsert") {
    val dir = tmp("graft_lake_dotcol")
    val df = (0L until 200L).map(i => (i, s"r$i")).toDF("doc.id", "payload")
    Manifest.writeWithManifest(df, dir + "/t", statsCols = Seq("doc.id"),
      clusterCols = Seq("doc.id"), targetFiles = 4)
    def ids(): Seq[Long] = col1[Long](Manifest.readSkipping(spark,
      dir + "/t", "doc.id", 0L, 5000L)
      .select(F.col("`doc.id`").as("k")).orderBy("k"), "k")
    assert(ids() == (0L until 200L))
    // deleteKeys: both the key frame's column and the min_/max_ envelope
    // columns (literally named "min_doc.id") must be backtick-routed
    val n = Manifest.deleteKeys(spark, dir + "/t", "doc.id",
      (50L until 60L).toDF("doc.id"), segment = "d0")
    assert(n >= 1)
    assert(ids() == (0L until 200L).filterNot(i => i >= 50 && i < 60))
    val batch = Seq((55L, "u55"), (300L, "n300")).toDF("doc.id", "payload")
    Manifest.upsert(batch, dir + "/t", "doc.id", segment = "b1")
    val afterUpsert =
      ((0L until 200L).filterNot(i => i >= 50 && i < 60 && i != 55) :+
        300L).sorted
    assert(ids() == afterUpsert)
    // the DISTRIBUTED fold must route the envelope columns (literally
    // "min_doc.id") through qcol too — a bare F.col would parse the dot
    // as struct access and make big-manifest compaction impossible for
    // dotted layouts
    val live = Manifest.compactManifest(spark, dir + "/t", "c0",
      driverFoldMaxBytes = 0L)
    assert(live == Manifest.manifest(spark, dir + "/t").count())
    assert(ids() == afterUpsert)
  }

  test("upsertSink: CDC stream into the manifested lake — latestBy " +
      "collapses intra-batch versions to the max sequence, later batches " +
      "replace earlier, duplicate seqs without latestBy stay loud") {
    val dir = tmp("graft_upsink")
    val base = Seq((0L, 10L, "a0"), (4L, 10L, "a4")).toDF("id", "seq", "v")
    Manifest.writeWithManifest(base, dir + "/t", statsCols = Seq("id"))
    val feed = new java.io.File(dir + "/feed"); feed.mkdirs()
    // batch 0: TWO versions of id 0 (seq 11 then 12) + insert id 1;
    // batch 1: one more version of id 0 (seq 20) + insert id 2
    shipFeed(Seq((0L, 11L, "b0-old"), (0L, 12L, "b0-new"), (1L, 11L, "n1"))
      .toDF("id", "seq", "v"), feed, 0, dir + "/tmp0")
    shipFeed(Seq((0L, 20L, "b1"), (2L, 20L, "n2"))
      .toDF("id", "seq", "v"), feed, 1, dir + "/tmp1")
    val schema = base.schema
    Streams.upsertSink(
      Streams.readParquetStream(spark, feed.toString, schema,
        maxFilesPerTrigger = 1),
      "id", dir + "/t", name = "up1", latestBy = Some("seq"))
    val got = Manifest.readSkipping(spark, dir + "/t", "id", 0L, 100L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(got == Map(0L -> (20L, "b1"), 1L -> (11L, "n1"),
      2L -> (20L, "n2"), 4L -> (10L, "a4")), got.toString)
    // without latestBy, a duplicate-key batch is refused by the MERGE
    // contract before anything commits
    val feed2 = new java.io.File(dir + "/feed2"); feed2.mkdirs()
    shipFeed(Seq((7L, 1L, "x"), (7L, 2L, "y")).toDF("id", "seq", "v"),
      feed2, 0, dir + "/tmp2")
    val e = intercept[Throwable] {
      Streams.upsertSink(
        Streams.readParquetStream(spark, feed2.toString, schema,
          maxFilesPerTrigger = 1),
        "id", dir + "/t", name = "up2")
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("distinct keys") ||
        Option(e.getCause).exists(_.getMessage.contains("distinct keys"))),
      s"${e.getMessage} / ${e.getCause}")
    // the refused stream changed nothing
    assert(Manifest.readSkipping(spark, dir + "/t", "id", 0L, 100L)
      .count() == 4)
  }

  test("upsertSink keepHistory: in-line compaction retains the newest n " +
      "commits as-of servable; the floor refuses older ones loudly") {
    val dir = tmp("graft_upsink_keep")
    val base = Seq((0L, "a0"), (1L, "a1")).toDF("id", "v") // commit 0
    Manifest.writeWithManifest(base, dir + "/t", statsCols = Seq("id"))
    val feed = new java.io.File(dir + "/feed"); feed.mkdirs()
    (0 until 4).foreach { k => // batches → commits 1..4
      shipFeed(Seq((0L, s"b$k"), (10L + k, s"n$k")).toDF("id", "v"),
        feed, k, dir + s"/tmp$k")
    }
    Streams.upsertSink(
      Streams.readParquetStream(spark, feed.toString, base.schema,
        maxFilesPerTrigger = 1),
      "id", dir + "/t", name = "upkeep", retainFiles = true,
      compactEvery = 2, keepHistory = 2)
    def ids(asOf: Option[Long]): Seq[Long] = col1[Long](
      Manifest.readSkipping(spark, dir + "/t", "id", 0L, 100L,
        asOf = asOf).orderBy("id"), "id")
    // final compaction (after batch 3 = commit 4) folded commits ≤ 2:
    // the floor is 2, so commits 2, 3, 4 stay servable
    assert(ids(None) == Seq(0L, 1L, 10L, 11L, 12L, 13L))
    assert(ids(Some(4L)) == Seq(0L, 1L, 10L, 11L, 12L, 13L))
    assert(ids(Some(3L)) == Seq(0L, 1L, 10L, 11L, 12L))
    assert(ids(Some(2L)) == Seq(0L, 1L, 10L, 11L)) // oldest servable
    val e = intercept[IllegalArgumentException] { ids(Some(1L)) }
    assert(e.getMessage.contains("history before commit 2") &&
      e.getMessage.contains("compacted away"), e.getMessage)
  }

  test("training shards: deterministic shuffle into one file per shard, " +
      "reproducible across exports, one shuffle total, loud contracts") {
    val dir = tmp("graft_shards")
    val df = (0L until 500L).map(i => (i, s"doc$i")).toDF("id", "text")
    // the window rank rides the repartition's clustering: exactly ONE
    // exchange in the whole assignment plan (a second would mean the
    // row_number re-shuffled the corpus)
    val assigned = Shards.assignShards(df, F.col("id"), 8, salt = "s1")
    def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => 1
        case _ => 0
      }
      self + p.children.map(exchanges).sum
    }
    assert(exchanges(assigned.queryExecution.sparkPlan) == 1,
      assigned.queryExecution.sparkPlan.toString)
    val a1 = assigned.select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // shard ids in range, positions are 1..count(shard) within each shard
    assert(a1.forall { case (_, s, _) => s >= 0 && s < 8 })
    a1.groupBy(_._2).foreach { case (s, rows) =>
      assert(rows.map(_._3).toSeq.sorted == (1L to rows.size),
        s"shard $s positions")
    }
    // export: one file per shard dir, round trip preserves everything
    Shards.writeShards(df, F.col("id"), 8, dir + "/t", salt = "s1")
    (0 until 8).foreach { s =>
      val files = new java.io.File(dir + s"/t/shard=$s").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $s has ${files.length} files")
    }
    // the read path is exchange-free: the directory layout already
    // encodes the shard clustering, so the trainer-side read must be a
    // scan plus in-partition sorts — zero Exchange, zero global Sort
    // (a global orderBy here would range-shuffle the whole corpus)
    val rd = Shards.readShards(spark, dir + "/t")
    assert(exchanges(rd.queryExecution.executedPlan) == 0,
      rd.queryExecution.executedPlan.toString)
    def globalSorts(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match {
        case s: org.apache.spark.sql.execution.SortExec if s.global => 1
        case _ => 0
      }
      self + p.children.map(globalSorts).sum
    }
    assert(globalSorts(rd.queryExecution.executedPlan) == 0,
      rd.queryExecution.executedPlan.toString)
    // per-partition contract: each partition is one shard in pos order,
    // partitions arrive in shard order
    val perPart = rd.select(F.col("shard").cast("long"), F.col("pos"))
      .rdd.mapPartitionsWithIndex { (i, it) =>
        Iterator((i, it.map(r => (r.getLong(0), r.getLong(1))).toSeq))
      }.collect().filter(_._2.nonEmpty)
    perPart.foreach { case (_, rows) =>
      assert(rows.map(_._1).distinct.size == 1, "one shard per partition")
      assert(rows.map(_._2) == rows.map(_._2).sorted, "pos-ordered")
    }
    assert(perPart.map(_._2.head._1).toSeq ==
      perPart.map(_._2.head._1).toSeq.sorted, "partitions in shard order")
    val back = Shards.readShards(spark, dir + "/t")
      .select(F.col("id"), F.col("shard").cast("long"), F.col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(back == a1)
    // reproducibility: a second export lands byte-identical assignments
    Shards.writeShards(df, F.col("id"), 8, dir + "/t2", salt = "s1")
    val back2 = Shards.readShards(spark, dir + "/t2")
      .select(F.col("id"), F.col("shard").cast("long"), F.col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(back2 == a1)
    // a different salt is a different (but still deterministic) shuffle
    val other = Shards.assignShards(df, F.col("id"), 8, salt = "s2")
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(other != a1)
    // a crashed export (shard dirs present, no _SUCCESS commit marker)
    // refuses loudly — a partial layout must never read as training data
    assert(new java.io.File(dir + "/t2/_SUCCESS").delete())
    val ePartial = intercept[IllegalArgumentException] {
      Shards.readShards(spark, dir + "/t2")
    }
    assert(ePartial.getMessage.contains("_SUCCESS"), ePartial.getMessage)
    // loud contracts
    intercept[IllegalArgumentException] {
      Shards.assignShards(df, F.col("id"), 0)
    }
    intercept[IllegalArgumentException] {
      Shards.writeShards(df.withColumn("shard", F.lit(1)), F.col("id"), 8,
        dir + "/bad")
    }
    val eNull = intercept[Throwable] {
      Shards.assignShards(Seq(Some(1L), None).toDF("id"), F.col("id"), 8)
        .collect()
    }
    assert(eNull.getMessage.contains("shard key is null"), eNull.getMessage)
  }

  test("training shards: balanced union fold keeps shard order and the " +
      "round trip at a non-power-of-two shard count") {
    // readShards folds the per-shard scans as a balanced tree (the
    // left-deep reduce was O(n²) driver analysis — scaling/shard_plan.json);
    // 5 shards exercises the odd-tail groupings at every fold level,
    // which must still concatenate strictly left-to-right
    val dir = tmp("graft_shards_odd")
    val df = (0L until 300L).map(i => (i, s"doc$i")).toDF("id", "text")
    Shards.writeShards(df, F.col("id"), 5, dir + "/t", salt = "odd")
    val rd = Shards.readShards(spark, dir + "/t")
    val perPart = rd.select(F.col("shard").cast("long"), F.col("pos"))
      .rdd.mapPartitionsWithIndex { (i, it) =>
        Iterator((i, it.map(r => (r.getLong(0), r.getLong(1))).toSeq))
      }.collect().filter(_._2.nonEmpty)
    assert(perPart.map(_._2.head._1).toSeq == (0L until 5L).toSeq,
      "partitions must arrive in shard order 0..4")
    perPart.foreach { case (_, rows) =>
      assert(rows.map(_._1).distinct.size == 1, "one shard per partition")
      assert(rows.map(_._2) == rows.map(_._2).sorted, "pos-ordered")
    }
    assert(rd.count() == 300L)
    assert(rd.select("id").as[Long].collect().toSet == (0L until 300L).toSet)
    // single-shard worker read (the documented path past the full
    // iterator's plan envelope): identical rows and order as that
    // shard's slice of the full read, same contracts
    val full3 = rd.filter(F.col("shard") === 3)
      .select("id", "pos").collect().map(r => (r.getLong(0), r.getLong(1)))
    val one3 = Shards.readShard(spark, dir + "/t", 3L)
    assert(one3.rdd.getNumPartitions == 1)
    assert(one3.select("id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == full3.toSeq)
    assert(one3.select(F.col("shard").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // out-of-range and negative ids fail loud, not empty
    val eRange = intercept[IllegalArgumentException] {
      Shards.readShard(spark, dir + "/t", 99L)
    }
    assert(eRange.getMessage.contains("shard=99"), eRange.getMessage)
    intercept[IllegalArgumentException] {
      Shards.readShard(spark, dir + "/t", -1L)
    }
  }

  test("shard reads take the schema from the parquet footer: " +
      "readShard(...).count() runs one job; a file without Spark's " +
      "footer schema falls back to inference") {
    val dir = Files.createTempDirectory("graft_shard_footer").toString
    val corpus = (0L until 60L).map(i => (i, s"doc $i")).toDF("id", "text")
    Shards.writeShards(corpus, F.col("id"), 3, dir + "/t")
    val shard1 = Shards.readShard(spark, dir + "/t", 1L)
    assert(jobsDuring(shard1.count()) == 1)
    assert(shard1.columns.toSeq == Seq("id", "text", "pos", "shard"))
    // a foreign writer's shard file (no Spark schema in its footer)
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val fschema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required int64 id; required int64 pos; }")
    val f = new java.io.File(dir + "/f/shard=0")
    assert(f.mkdirs() && new java.io.File(dir + "/f/_SUCCESS").createNewFile())
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(f.getPath + "/part-0.parquet"))
      .withType(fschema).build()
    val groups = new SimpleGroupFactory(fschema)
    try Seq(7L -> 2L, 5L -> 1L).foreach { case (id, pos) =>
      w.write(groups.newGroup().append("id", id).append("pos", pos)) }
    finally w.close()
    Seq(Shards.readShard(spark, dir + "/f", 0L),
        Shards.readShards(spark, dir + "/f")).foreach { rd =>
      assert(rd.select(F.col("id"), F.col("pos"), F.col("shard").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq == Seq((5L, 1L, 0L), (7L, 2L, 0L)))
    }
  }
}
