package perfbench

import java.io.{File, PrintWriter}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator.
  *
  * Row CONTENT comes from a fixed content seed, so every `--seed` has one
  * golden output per operation; the run seed decides row ORDER, which rows
  * share a file, and the order of the search probes. Every registered
  * operation's output is order-independent, so a seed that changes an
  * output fingerprint is a program defect, not a benchmark artefact.
  *
  * The relational tables follow the schema and value domains of the
  * repository's TPC-H-style fixtures (FIXTURES.md); the document corpora
  * carry injected exact duplicates, near-duplicates, repetitive and
  * off-language rows, and benchmark-contaminated rows.
  */
object Gen {
  val ContentSeed = 42L

  /** Shuffle `rows` with the run seed and write them as parquet: a local
    * relation scans as contiguous slices, one file per slice. */
  def writeParquet(spark: SparkSession, rows: IndexedSeq[Row],
                   schema: StructType, path: String, seed: Long): Unit =
    spark.createDataFrame(shuffle(rows, seed ^ path.hashCode.toLong).asJava,
      schema).write.mode("overwrite").parquet(path)

  def shuffle[T](xs: IndexedSeq[T], seed: Long): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    val r = new SplittableRandom(seed)
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: String, days: Int): Timestamp = {
    val base = Timestamp.valueOf(from + " 00:00:00").getTime
    new Timestamp(base + r.nextInt(days).toLong * 86400000L)
  }

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  // ---------------------------------------------------------------- TPC-H-style

  /** The eight tables the `q*` registry entries read, at `scale` (1.0 is
    * the fixtures' sf1 sizing: 6M lineitem rows). */
  def relational(spark: SparkSession, dir: String, scale: Double,
                 seed: Long): Unit = {
    val r = new SplittableRandom(ContentSeed)
    def n(base: Int) = math.max(1, (base * scale).toInt)
    val (nCust, nSupp, nPart, nOrd, nLine, nEv) =
      (n(150000), n(10000), n(200000), n(1500000), n(6000000), n(1000000))
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val adjs = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
      "widget")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    val evTypes = Seq("click", "error", "purchase", "signup", "view")
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (k, t) => StructField(k, t) })
    def write(name: String, schema: StructType, rows: IndexedSeq[Row]) =
      writeParquet(spark, rows, schema, s"$dir/$name.parquet", seed)

    write("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      regions.indices.map(i => Row(i, regions(i))))
    write("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", r.nextInt(5))))
    write("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
        r.nextInt(25), money(r, -999.99, 9999.99), pick(r, segs))))
    write("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d",
        r.nextInt(25), money(r, -999.99, 9999.99))))
    write("part", st("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong,
        pick(r, adjs) + " " + pick(r, nouns), s"Brand#${1 + r.nextInt(25)}",
        pick(r, types), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    write("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
        pick(r, Seq("F", "O", "P")), money(r, 1000.0, 500000.0),
        day(r, "1995-01-01", 2404), pick(r, prios))))
    write("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
      (0 until nLine).map(_ => Row(r.nextInt(nOrd).toLong,
        r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, money(r, 900.0, 105000.0),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(r, Seq("A", "N", "R")), pick(r, Seq("F", "O")),
        day(r, "1995-01-02", 2498))))
    val evBase = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val evTs = Array.fill(nEv)(r.nextLong(30L * 86400L * 1000000L)).sorted
    write("events", st("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
      (0 until nEv).map { i =>
        val t = new Timestamp(evBase + evTs(i) / 1000)
        t.setNanos(((evTs(i) % 1000000) * 1000).toInt)
        Row(i.toLong, t, r.nextInt(math.max(1, nEv * 3 / 200)).toLong,
          pick(r, evTypes),
          math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""")
      })
  }

  // ---------------------------------------------------------------- documents

  /** A document corpus in the fixture schema (doc_id, text, lang, source,
    * n_chars). Text is pseudo-words plus the language-id marker words of
    * the language it is written in. */
  final class Corpus(seed: Long) {
    private val r = new SplittableRandom(seed)
    private val syll = Seq("ka", "lo", "mi", "ner", "tas", "vi", "don", "pe",
      "ru", "sol", "ga", "fen", "tor", "bi", "lu", "mar", "qui", "zen", "ha",
      "wes", "pol", "dri", "nu", "cam")
    private def word(): String =
      (0 until 2 + r.nextInt(2)).map(_ => pick(r, syll)).mkString
    val vocab: IndexedSeq[String] =
      Iterator.continually(word()).distinct.take(600).toIndexedSeq
    private val evalVocab: IndexedSeq[String] =
      Iterator.continually("x" + word()).distinct.take(200).toIndexedSeq
    val markers: Map[String, Seq[String]] = Map(
      "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
      "en" -> Seq("the", "a", "and", "of", "is", "to", "in"),
      "es" -> Seq("el", "que", "y", "los", "es"),
      "fr" -> Seq("et", "les", "des", "est", "un"))
    val langs: Seq[String] = Seq("de", "es", "fr")

    def tokens(lang: String, n: Int): IndexedSeq[String] =
      (0 until n).map(_ =>
        if (r.nextDouble() < 0.2) pick(r, markers(lang)) else pick(r, vocab))
    def text(lang: String = "en"): String =
      tokens(lang, 60 + r.nextInt(60)).mkString(" ")
    /** Replace `k` tokens: a near-duplicate of `t`. */
    def nearEdit(t: String, k: Int): String = {
      val ts = t.split(' ')
      (0 until k).foreach(_ => ts(r.nextInt(ts.length)) = pick(r, vocab))
      ts.mkString(" ")
    }
    def repetitive(): String = {
      val phrase = tokens("en", 4).mkString(" ")
      Seq.fill(12 + r.nextInt(8))(phrase).mkString(" ")
    }
    /** An evaluation-set document: its own vocabulary, so its word
      * 3-grams occur in the corpus only where a passage was copied. */
    def evalDoc(): String =
      (0 until 40).map(_ => pick(r, evalVocab)).mkString(" ")
    /** Splice a 6-token passage of `eval` into `t`. */
    def contaminate(t: String, eval: String): String = {
      val e = eval.split(' ')
      val at = r.nextInt(e.length - 6)
      val ts = t.split(' ')
      val cut = r.nextInt(ts.length)
      (ts.take(cut) ++ e.slice(at, at + 6) ++ ts.drop(cut)).mkString(" ")
    }
    def source(): String = s"src${r.nextInt(20)}"
    def nextInt(n: Int): Int = r.nextInt(n)
    def nextDouble(): Double = r.nextDouble()
    def gaussian(): Double = r.nextGaussian()
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val DocDdl = "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
    "n_chars BIGINT"

  def doc(id: Long, text: String, lang: String, source: String): Row =
    Row(id, text, lang, source, text.length.toLong)

  /** The daily batch for the curation DAG: `nBase` clean English documents
    * plus injected defects, written as CSV (the ingest job's input) and an
    * evaluation set as parquet. Ids are sparse and unordered. */
  def curationCorpus(spark: SparkSession, dir: String, nBase: Int,
                     seed: Long): Unit = {
    val c = new Corpus(ContentSeed + 1)
    val ids = shuffle((0 until nBase * 2).map(_ * 7L + 3), ContentSeed)
    var next = 0
    def id(): Long = { next += 1; ids(next - 1) }
    val base = (0 until nBase).map(_ => doc(id(), c.text(), "en", c.source()))
    def baseText() = base(c.nextInt(base.size)).getString(1)
    val evals = (0 until 20).map(_ => c.evalDoc())
    val injected =
      (0 until nBase / 10).map(_ => doc(id(), baseText(), "en", c.source())) ++
      (0 until nBase * 3 / 40).map(_ =>
        doc(id(), c.nearEdit(baseText(), 1 + c.nextInt(2)), "en",
          c.source())) ++
      (0 until nBase / 25).map(_ => doc(id(), c.repetitive(), "en",
        c.source())) ++
      (0 until nBase / 16).map { _ =>
        val l = c.langs(c.nextInt(c.langs.size))
        doc(id(), c.text(l), l, c.source())
      } ++
      (0 until nBase / 80).map(_ => doc(id(),
        c.contaminate(c.text(), evals(c.nextInt(evals.size))), "en",
        c.source()))
    val rows = shuffle(base ++ injected, seed)
    new File(dir).mkdirs()
    val w = new PrintWriter(new File(s"$dir/documents.csv"), "UTF-8")
    try {
      w.println("doc_id,text,lang,source,n_chars")
      rows.foreach(r => w.println(r.toSeq.mkString(",")))
    } finally w.close()
    writeParquet(spark, evals.zipWithIndex.map { case (t, i) =>
      doc(i.toLong, t, "en", "eval") }, DocSchema, s"$dir/eval_set", seed)
  }

  val EmbDim = 64
  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** `days` daily landings: fresh documents plus re-crawls (exact copies
    * under new ids) and near-edits of earlier days, a few rows that fail
    * the stream's quality rules, and an embeddings batch that re-sends
    * some earlier vectors. Returns every embedding row (the search corpus
    * after the last day). */
  def dailyBatches(spark: SparkSession, dir: String, days: Int,
                   docsPerDay: Int, vecsPerDay: Int,
                   seed: Long): IndexedSeq[Row] = {
    val c = new Corpus(ContentSeed + 2)
    val centers = (0 until 10).map(_ => Array.fill(EmbDim)(c.gaussian()))
    var seen = IndexedSeq.empty[Row]
    var vecs = IndexedSeq.empty[Row]
    var nextDoc = 1000000L
    var nextVec = 0L
    (1 to days).foreach { d =>
      val fresh = (0 until docsPerDay).map { _ =>
        nextDoc += 1 + c.nextInt(5)
        doc(nextDoc, c.text(), "en", c.source())
      }
      val pool = seen ++ fresh
      def old() = pool(c.nextInt(pool.size)).getString(1)
      def nid() = { nextDoc += 1 + c.nextInt(5); nextDoc }
      val recrawl = (0 until docsPerDay / 6).map(_ =>
        doc(nid(), old(), "en", c.source()))
      val edits = (0 until docsPerDay / 8).map(_ =>
        doc(nid(), c.nearEdit(old(), 1), "en", c.source()))
      val bad = (0 until docsPerDay / 100).map(_ =>
        Row(nid(), c.text(), "en", c.source(), -1L))
      seen = seen ++ fresh
      writeParquet(spark, fresh ++ recrawl ++ edits ++ bad, DocSchema,
        s"$dir/day$d/docs", seed)
      val newVecs = (0 until vecsPerDay).map { _ =>
        val label = c.nextInt(10)
        nextVec += 1 + c.nextInt(3)
        Row(nextVec, centers(label).map(x =>
          (x + c.gaussian() * 0.8).toFloat / 8f).toSeq, label)
      }
      val resent = if (vecs.isEmpty) IndexedSeq.empty
        else (0 until vecsPerDay / 20).map(_ => vecs(c.nextInt(vecs.size)))
      vecs = vecs ++ newVecs
      writeParquet(spark, newVecs ++ resent, EmbSchema, s"$dir/day$d/emb",
        seed)
    }
    vecs
  }

  /** Bytes on disk under `path` (files only). */
  def du(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(x => du(x.getPath)).sum).getOrElse(0L)
  }

  def files(path: String): Long = {
    val f = new File(path)
    if (f.isFile) 1L
    else Option(f.listFiles).map(_.map(x => files(x.getPath)).sum)
      .getOrElse(0L)
  }

  def copyDir(from: String, to: String): Unit = {
    val src = new File(from).toPath
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val t = new File(to).toPath.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) t.toFile.mkdirs()
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def rm(path: String): Unit = {
    val f = new File(path)
    Option(f.listFiles).foreach(_.foreach(x => rm(x.getPath)))
    f.delete()
  }
}
