package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** SURVEY.md §5.2 property tests (ScalaCheck): ∀ file content × terminator
  * × quote × split size, the union of per-partition reads equals the
  * whole-file read — no duplication, no loss at partition boundaries (the
  * invariant behind the reference's seek-to-terminator realignment,
  * libhdfsconnector.cpp:476-488,545-558) — and FLAT counts/content are
  * split-invariant (libhdfsconnector.cpp:76-96).
  *
  * Spark-backed properties run a reduced-but-seeded case count (each case
  * is a full write+read job); pure-function properties run the default
  * 100.
  */
class SplitInvariancePropSpec extends SparkSpec {

  private def check(prop: Prop, cases: Int): Unit = {
    val params = ScTest.Parameters.default
      .withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(42L))
    val res = ScTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  // printable, quote/terminator/separator-free field alphabet; embedded
  // separators and the OTHER quote are exercised via explicit injection
  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)

  test("CSV: ∀ content × terminator × quote × split, partitioned == whole") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("txt", StringType),
      StructField("v", DoubleType)))
    val gen = for {
      n <- Gen.choose(20, 120)
      terminator <- Gen.oneOf("\n", "\r\n", "|\n", "~~")
      quote <- Gen.oneOf("'", "\"")
      split <- Gen.oneOf(128, 1024)
      words <- Gen.listOfN(n, word)
    } yield (n, terminator, quote, split, words)
    val prop = Prop.forAll(gen) { case (n, terminator, quote, split, words) =>
      import spark.implicits._
      val otherQuote = if (quote == "'") "\"" else "'"
      val rows = words.zipWithIndex.map { case (w, i) =>
        // inject separators + the non-active quote into some fields
        val txt = if (i % 3 == 0) s"$w,x" else if (i % 3 == 1) s"$w$otherQuote" else w
        (i.toLong, txt, i * 0.5)
      }
      val df = rows.toDF("id", "txt", "v")
      val dir = tmpDir("csv-prop")
      HpccCsv.write(df, dir, terminator = terminator, quote = quote)
      val expected = rows.sortBy(_._1)
      spark.conf.set("spark.sql.files.maxPartitionBytes", split.toString)
      try {
        val got = HpccCsv.read(spark, dir, schema,
            terminator = terminator, quote = quote)
          .orderBy("id").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
        got == expected
      } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
    check(prop, 8)
  }

  test("FLAT: ∀ record shape × split, counts and content are split-invariant") {
    val gen = for {
      w <- Gen.choose(4, 16)
      n <- Gen.choose(30, 300)
      split <- Gen.oneOf(25, 97, 1000)
      words <- Gen.listOfN(n, word)
    } yield (w, n, split, words)
    val prop = Prop.forAll(gen) { case (w, n, split, words) =>
      import spark.implicits._
      val layout = EclLayout.parse(
        s"id:unsigned4,name:string$w,score:real8,grade:integer4")
      val rows = words.zipWithIndex.map { case (s, i) =>
        (i.toLong, s.take(w), i * 0.5 - 7.25, -i) }
      val df = rows.toDF("id", "name", "score", "grade")
        .select(col("id"), col("name"), col("score"),
          col("grade").cast("int").as("grade"))
      val dir = tmpDir("flat-prop")
      df.write.format("hpcc-flat").option("layout", layout.spec)
        .mode("overwrite").save(dir)
      spark.conf.set("spark.sql.files.maxPartitionBytes", split.toString)
      try {
        val got = spark.read.format("hpcc-flat")
          .option("layout", layout.spec).load(dir)
        got.count() == n.toLong &&
          got.orderBy("id").collect().toSeq ==
            df.orderBy("id").collect().toSeq
      } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
    check(prop, 8)
  }

  // ---- hpcc-xml: split invariance and the cursor's 64 KB refill ----------

  private val xmlSchema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType),
    StructField("score", DoubleType)))

  private def xmlRead(dir: String, mode: String = "FAILFAST") =
    spark.read.format("hpcc-xml").schema(xmlSchema).option("rowTag", "Row")
      .option("mode", mode).option("columnNameOfCorruptRecord", "_corrupt")
      .load(dir)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Reads of `dir` at the whole-file split, at 64 and 301 bytes, and at
    * the core-aware default with a 256-byte open cost: each as sorted rows
    * with the rows [[spurious]] expects it to add to the whole-file read.
    */
  private def xmlSplitReads(dir: String): Seq[(String, Seq[String], Seq[String])] =
    Seq("whole" -> Nil,
      "64" -> Seq("spark.sql.files.maxPartitionBytes" -> "64"),
      "301" -> Seq("spark.sql.files.maxPartitionBytes" -> "301"),
      "core-aware" -> Seq("spark.sql.files.openCostInBytes" -> "256"))
      .map { case (name, kv) =>
        kv.foreach { case (k, v) => spark.conf.set(k, v) }
        try {
          val parts = new XmlScan(dir, "Row", xmlSchema).planInputPartitions()
            .map(_.asInstanceOf[ByteRanges.Span]).toSeq
          (name, rowsOf(xmlRead(dir)), spurious(parts))
        } finally kv.foreach { case (k, _) => spark.conf.unset(k) }
      }

  /** The rows a split read adds to the whole-file read. A range that starts
    * inside a comment or CDATA section cannot know it, so a literal `<Row`
    * later in that section and inside the range reads as a row start — the
    * XML form of the quote-parity splitter's documented divergence.
    */
  private def spurious(parts: Seq[ByteRanges.Span]): Seq[String] =
    parts.groupBy(_.file).toSeq.flatMap { case (file, ps) =>
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(new java.net.URI(file))), "ISO-8859-1")
      // (section start, offset of the literal "<Row", the row it reads as)
      def at(open: String, row: String) =
        Iterator.iterate(text.indexOf(open))(i => text.indexOf(open, i + 1))
          .takeWhile(_ >= 0).map(i => (i, i + open.length - 5, row))
      val sections = (at("<!-- <Row>", "[-1,null,null]") ++
        at("<![CDATA[<Row>", "[null,null,null]")).toSeq
      for {
        p <- ps
        (cs, t, row) <- sections if cs < p.start && p.start <= t && t < p.end
      } yield row
    }

  /** One generated `<Row>` (or a near-miss that is no row) and whether it
    * counts as a row.
    */
  private def xmlRow(i: Int, w: String, style: Int, ind: String): (String, Boolean) = {
    val in = if (ind.isEmpty) "" else ind + "    "
    def el(body: String) =
      s"<Row>$in<id>$i</id>$in$body$in<score>${i * 0.5}</score>$ind</Row>"
    style match {
      case 0 => el(s"<name>$w &amp; &#x41;&lt;x&gt;</name>") -> true
      case 1 => el(s"<name><![CDATA[<Row>$w</Row> ]]]]></name>") -> true
      case 2 => el(s"<name>$w</name><!-- <Row><id>-1</id></Row> -->") -> true
      case 3 =>
        s"""<Row note="a>b" id="$i" name='$w/>'>$in<score>1.5</score>$ind</Row>""" -> true
      case 4 => "<Row/>" -> true
      case 5 => s"<Rows><id>-$i</id><name>$w</name></Rows>" -> false
      case _ => el(s"<name>$w 中文 émoji 😀</name>") -> true
    }
  }

  test("XML: ∀ content × split, partitioned == whole (+ the markup-section pin)") {
    val gen = for {
      n <- Gen.choose(10, 60)
      styles <- Gen.listOfN(n, Gen.choose(0, 6))
      words <- Gen.listOfN(n, word)
      ind <- Gen.oneOf("", "\n    ")
    } yield (styles, words, ind)
    val prop = Prop.forAll(gen) { case (styles, words, ind) =>
      val rows = styles.zip(words).zipWithIndex.map { case ((st, w), i) =>
        xmlRow(i, w, st, ind) }
      val dir = tmpDir("xml-prop")
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "data.xml"),
        ("<Dataset>" + rows.map(r => ind + r._1).mkString("\n") +
          "\n</Dataset>\n").getBytes("UTF-8"))
      val reads = xmlSplitReads(dir)
      val whole = reads.head._2
      val bad = reads.collect {
        case (k, got, extra) if got != (whole ++ extra).sorted =>
          s"$k: ${got.diff(whole).take(3)} vs ${whole.diff(got).take(3)}, extra $extra"
      }
      Prop(whole.size == rows.count(_._2) && bad.isEmpty) :|
        s"whole ${whole.size} of ${rows.count(_._2)} rows; $bad"
    }
    check(prop, 6)
  }

  test("XML: built-in xml writer output reads the same at every split") {
    val gen = for {
      n <- Gen.choose(20, 120)
      words <- Gen.listOfN(n, word)
      parts <- Gen.choose(1, 3)
    } yield (words, parts)
    val prop = Prop.forAll(gen) { case (words, parts) =>
      import spark.implicits._
      val df = words.zipWithIndex.map { case (w, i) =>
        (i, if (i % 2 == 0) s"$w <&> 中文" else w, i * 0.25) }
        .toDF("id", "name", "score")
      val dir = tmpDir("xml-builtin-prop")
      df.repartition(parts).write.format("xml").option("rowTag", "Row")
        .mode("overwrite").save(dir)
      val builtin = rowsOf(spark.read.format("xml").schema(xmlSchema)
        .option("rowTag", "Row").load(dir))
      val reads = xmlSplitReads(dir)
      builtin.size == words.size && reads.forall(r => r._2 == builtin && r._3.isEmpty)
    }
    check(prop, 4)
  }

  /** `<Dataset>`, filler rows, then `row`, placed so that the first `token`
    * in `row` starts `cut` bytes before the 64 KB mark.
    */
  private def straddle(row: String, token: String, cut: Int): String = {
    val head = new StringBuilder("<Dataset>\n")
    var i = 1000
    while (head.length < 65000) {
      head.append(s"<Row><id>$i</id><name>f</name><score>0.0</score></Row>\n"); i += 1
    }
    val at = row.indexOf(token)
    head.append(" " * (65536 - cut - at - head.length))
    head.append(row).append("\n</Dataset>\n").toString
  }

  test("XML and CSV-parity tokens straddling the 64 KB refill read intact") {
    val row = "<Row><id>7</id><name><![CDATA[a<b]]></name><score>2.5</score></Row>"
    val cases = Seq("<Row" -> 1, "<Row" -> 2, "</Row>" -> 3, "</Row>" -> 5,
      "]]>" -> 1, "]]>" -> 2)
    for ((token, cut) <- cases) {
      val text = straddle(row, token, cut)
      assert(text.getBytes("UTF-8").length > 65536)
      val dir = tmpDir("xml-refill")
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "data.xml"),
        text.getBytes("UTF-8"))
      val got = xmlRead(dir).filter("id = 7").collect()
      assert(got.map(_.toString).toSeq == Seq("[7,a<b,2.5]"), s"$token cut $cut")
      assert(xmlRead(dir).count() == text.split("<Row>").length - 1)
    }
    // one 70 KB field: the record buffer grows past a refill
    val big = "x" * (70 * 1024)
    val dir = tmpDir("xml-big")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "data.xml"),
      (s"<Dataset><Row><id>1</id><name>$big</name><score>1.0</score></Row>" +
        "<Row><id>2</id></Row></Dataset>").getBytes("UTF-8"))
    assert(xmlRead(dir).orderBy("id").collect().map(r =>
      (r.getInt(0), Option(r.getString(1)).map(_.length))).toSeq ==
      Seq((1, Some(big.length)), (2, None)))
    // CSV-parity: a "\r\n" split by the refill, once as the terminator and
    // once inside a quoted field, then a 70 KB record
    for (quoted <- Seq(false, true)) {
      val head = (0 until 4600).map(i => f"$i%05d,'q\r\nq'") // 14 bytes each
      val used = head.map(_.length + 2).sum
      // the pad record puts its (quoted or terminating) '\r' at byte 65535
      val pad =
        if (quoted) s"p,${"z" * (65530 - used)},'q\r\nq'"
        else s"p,${"z" * (65535 - used - 2)}"
      val recs = (head :+ pad :+ ("z" * (70 * 1024))) ++
        (0 until 50).map(i => f"$i%05d,'q\r\nq'")
      val bytes = recs.mkString("", "\r\n", "\r\n").getBytes("UTF-8")
      assert(bytes(65535) == '\r' && bytes(65536) == '\n')
      val csv = tmpDir("csv-refill")
      java.nio.file.Files.write(java.nio.file.Paths.get(csv, "data.csv"), bytes)
      val got = spark.read.format("hpcc-csv-parity")
        .option("terminator", "\\r\\n").load(csv)
        .collect().map(_.getString(0)).toSeq
      assert(got == recs, s"quoted=$quoted")
    }
  }

  test("XML PERMISSIVE: an element cut off at EOF surfaces its fragment") {
    val dir = tmpDir("xml-eof")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "data.xml"),
      "<Dataset>\n<Row><id>1</id></Row>\n<Row><id>2</id><name>trunc"
        .getBytes("UTF-8"))
    val got = xmlRead(dir, "PERMISSIVE").collect().map(_.toString).toSeq.sorted
    assert(got == Seq("[1,null,null,null]",
      "[null,null,null,<Row><id>2</id><name>trunc]"))
  }

  test("expandEscapes: escape-free strings are fixed points; no stray backslashes") {
    val escFree = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', ',',
      '\'', '"', '~', '|'))).map(_.mkString)
    check(Prop.forAll(escFree) { s => HpccCsv.expandEscapes(s) == s }, 100)
    // every backslash in the OUTPUT must come from an explicit \\ pair
    val withEsc = Gen.listOf(Gen.oneOf(Gen.alphaNumChar.map(_.toString),
      Gen.oneOf("\\n", "\\t", "\\\\", "\\z", "\\x41"))).map(_.mkString)
    check(Prop.forAll(withEsc) { s =>
      val out = HpccCsv.expandEscapes(s)
      out.count(_ == '\\') <= s.sliding(2).count(_ == "\\\\")
    }, 100)
  }

  test("shingleHashes: ∀ token streams, |hashes| == max(0, tokens - n + 1)") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val docs = Gen.listOfN(200,
      Gen.choose(0, 12).flatMap(k => Gen.listOfN(k, word).map(_.mkString(" "))))
    val prop = Prop.forAll(docs) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val bad = df.select(col("doc_id"),
          size(TextFunctions.shingleHashes(col("text"), 3)).as("got"),
          greatest(size(TextFunctions.tokens(col("text"))) - 2, lit(0))
            .as("want"))
        .filter(col("got") =!= col("want"))
      bad.count() == 0
    }
    check(prop, 5)
  }
}
