package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans._

/** Every [[graft.plans.RowKernel]] gives the same value and nullness on its
  * interpreted path (`eval`) as in generated code (`UnsafeProjection` with
  * codegen only), over null and edge inputs. Both paths run one Scala row
  * function, so this pins the base's argument passing and null handling,
  * which are written twice: once for `eval`, once for `doGenCode`. */
class RowKernelSpec extends SparkSpec {

  private case class Case(kernel: Seq[Expression] => Expression, types: Seq[DataType], rows: Seq[Any]*)

  private val strs = Seq("", "a", "ü😀", "94.15.223.151", "https://www.google.com/search?q=x")
  private val uas = Seq("", "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "Mozilla/5.0 (X11; Linux x86_64) Firefox/119.0", "Mozilla/5.0 (iPad; CPU OS 16_0) Safari/604.1")
  private val toks = Seq(Seq("d", "c", "b", "a"), Seq("a"), Seq.empty[String], Seq(null, "b", null), Seq("a b", "a b"))
  private val S = StringType
  private val Strs = ArrayType(StringType)
  private def one(vs: Seq[Any]): Seq[Seq[Any]] = vs.map(Seq(_))
  private def keyTable(value: AnyRef) =
    new DimHandle(spark.sparkContext.broadcast[DimTable](KeyTable("t", Seq(UTF8String.fromString("EUR") -> value))))
  private val gz = GzipCodec.gzip("payload".getBytes("UTF-8"))
  private val zs = GzipCodec.zstd("payload".getBytes("UTF-8"))
  private val errors = FieldLengthsExpression.ErrorsType

  private lazy val cases: Map[String, Case] = Map(
    "graft_anon_ip" -> Case(c => AnonIpExpression(c.head, 2, 4), Seq(S),
      one(strs ++ Seq("2001:db8::1", "::FFFF:1.2.3.4", "::ffff:1.2.3.4", "abc")): _*),
    "graft_is_bot" -> Case(c => BotMatchExpression(c.head), Seq(S), one(uas): _*),
    "graft_browser_family" -> Case(c => BrowserFamilyExpression(c.head), Seq(S), one(uas): _*),
    "graft_browser_version" -> Case(c => BrowserVersionExpression(c.head), Seq(S), one(uas): _*),
    "graft_ua_parse" -> Case(c => UaParseExpression(c.head), Seq(S), one(uas): _*),
    "graft_device_class" -> Case(c => DeviceClassExpression(c.head), Seq(S), one(uas): _*),
    "graft_tracker_fields" -> Case(c => TrackerFieldsExpression(c), Seq(S, S, S, S),
      Seq("pv", "web", "1920x1080", "1.2.3.4, 5.6.7.8"), Seq("zz", "bad", "x", ""), Seq("se", "mob", "0x0", "a")),
    "graft_sp_pair" -> Case(c => SpPairExpression(c.head), Seq(S),
      one(Seq("abc.1700000000000", "abc.", ".1", "a.99999999999999999999", "")): _*),
    "graft_event_fingerprint" -> Case(c => FingerprintExpression(c, Seq("a", "b", "c"), "md5"), Seq(S, S, S),
      Seq("pv", "", "ü"), Seq("x", "y", "z")),
    "graft_field_validate" -> Case(c => FieldLengthsExpression(c, Seq("f", "g"), Seq(3, 5), truncate = true, "v"),
      Seq(S, S, errors), Seq("abcdef", "x", Seq.empty[Row]), Seq("ab", "abcdefgh", Seq(Row("e", "t", null, "m"))),
      Seq("ü😀ü😀", "", Seq(Row("e", "t", "k", "m")))),
    "graft_collector_tsv" -> Case(c => CollectorTsvExpression(c.head, Seq("a", "b", "c")), Seq(S),
      one(Seq("x\ty\tz\tw", "x", "", "ü\tb")): _*),
    "graft_gzip" -> Case(c => GzipExpression(c.head), Seq(BinaryType),
      one(Seq(Array.emptyByteArray, "payload".getBytes("UTF-8"))): _*),
    "graft_gunzip" -> Case(c => GunzipExpression(c.head, 1 << 20, lenient = true), Seq(BinaryType),
      one(Seq(gz, Array[Byte](1, 2, 3))): _*),
    "graft_zstd" -> Case(c => ZstdExpression(c.head), Seq(BinaryType), one(Seq("payload".getBytes("UTF-8"))): _*),
    "graft_unzstd" -> Case(c => UnzstdExpression(c.head, 1 << 20, lenient = true), Seq(BinaryType),
      one(Seq(zs, Array[Byte](1, 2, 3))): _*),
    "graft_iab_check" -> Case(c => IabCheckExpression(c(0), c(1),
        graft.enrich.IabFiles.load(Iterator("10.0.0.0/8"), Iterator("bot|1||0|1|0"), Iterator.empty)), Seq(S, S),
      Seq("Mozilla/5.0", "10.1.2.3"), Seq("a bot", "192.168.0.1"), Seq("Mozilla/5.0", "x")),
    "graft_dim_lookup" -> Case(c => DimLookupExpression(c.head, keyTable(java.lang.Long.valueOf(1080000L)), LongType),
      Seq(S), one(Seq("EUR", "USD", "")): _*),
    "graft_minhash" -> Case(c => MinHashExpression(c.head, Seq(1, 2)), Seq(Strs), one(toks): _*),
    "graft_normalize" -> Case(c => NormalizeExpression(c.head, "NFKC"), Seq(S),
      one(Seq("ﬁ", "abc", "é", "")): _*),
    "graft_outer_product" -> Case(c => OuterProductExpression(c.head), Seq(ArrayType(LongType)),
      one(Seq(Seq(1L, 2L, 3L), Seq.empty[Long], Seq(Long.MaxValue, 2L))): _*),
    "graft_pq_recon" -> Case(c => PqReconExpression(c.head, Seq(Seq(0L, 0L, 0L, 0L), Seq(10L, 10L, 10L, 10L)), 2),
      Seq(ArrayType(LongType)),
      one(Seq(Seq(1L, 2L, 9L, 9L), Seq(1L, 2L), Seq(1L, 2L, 3L, 4L, 5L), Seq(1L, null, 3L, 4L))): _*),
    "graft_referer_lookup" -> Case(c => RefererLookupExpression(c(0), c(1)), Seq(S, S),
      Seq("www.google.com", "/search"), Seq("unknown.example", "/"), Seq("", "")),
    "graft_rolling_hash" -> Case(c => RollingHashExpression(c.head, 257L, 1000000007L), Seq(S), one(strs): _*),
    "graft_feature_score" -> Case(c => ScoreExpression(c.head, "salt", (0L until 64L).map(_ * 3 - 50)),
      Seq(Strs), one(toks): _*),
    "graft_shingles" -> Case(c => ShinglesExpression(c.head, 2), Seq(Strs), one(toks): _*),
    "graft_simhash" -> Case(c => SimHashExpression(c.head, 32), Seq(Strs), one(toks): _*),
    "graft_url_parse" -> Case(c => UrlParseExpression(c.head), Seq(S),
      one(strs ++ Seq("https://x.com:8080/p?q=1#f", "HTTP://X.com/")): _*),
    "graft_campaign_attribution" -> Case(c => CampaignAttributionExpression(c.head,
        graft.functions.UrlF.CampaignCfg(Seq("utm_medium"), Seq("utm_source"), Seq("utm_term"),
          Seq("utm_content"), Seq("utm_campaign"), Seq("gclid" -> "Google"))), Seq(S),
      one(Seq("utm_medium=cpc&utm_source=g&gclid=1", "utm_term=red+shoes", "utm_term=%zz", "")): _*),
    "graft_referer_parse" -> Case(c => RefererParseExpression(c(0), c(1), Seq("internal.example.com")), Seq(S, S),
      Seq("https://www.google.com/search?q=x", "shop.example.com"), Seq("https://internal.example.com/", "a"),
      Seq("https://shop.example.com/p", "shop.example.com"), Seq("", "")),
    "graft_tracker_params" -> Case(c => TrackerParamsExpression(c.head, Seq("e", "p", "url")), Seq(S),
      one(Seq("e=pv&p=web&url=x", "", "e=&e=2", "p")): _*),
    "graft_vecmatmul" -> Case(c => VecMatMulExpression(c.head, Array(Array(1.5, -2.0, 0.25), Array(0.0, 4.0, -1.0))),
      Seq(ArrayType(FloatType)), one(Seq(Seq(1.0f, 2.0f, 3.0f), Seq(1.0f), Seq(1.0f, null, 3.0f))): _*),
    "graft_winnow" -> Case(c => WinnowExpression(c.head, 3), Seq(Strs), one(toks): _*)
  )

  /** Byte arrays and Catalyst-to-Scala conversions compare by value. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case s: scala.collection.Seq[_] => s.map(norm)
    case r: Row => r.toSeq.map(norm)
    case other => other
  }

  private def compare(name: String, c: Case, row: Seq[Any], nullableInputs: Boolean): Unit = {
    val refs = c.types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullableInputs) }
    val expr = c.kernel(refs)
    assert(expr.checkInputDataTypes().isSuccess, s"$name rejects its inputs ${c.types}")
    val input = InternalRow.fromSeq(row.zip(c.types).map { case (v, t) =>
      CatalystTypeConverters.createToCatalystConverter(t)(v) })
    val toScala = CatalystTypeConverters.createToScalaConverter(expr.dataType)
    val interpreted = expr.eval(input)
    val generated = UnsafeProjection.create(Seq(expr)).apply(input)
    val what = s"$name${row.map(v => norm(v)).mkString("(", ", ", ")")}"
    assert(generated.isNullAt(0) == (interpreted == null), s"$what: codegen and eval disagree on null")
    assert(expr.nullable || interpreted != null, s"$what: null from a non-nullable kernel")
    if (interpreted != null)
      assert(norm(toScala(generated.get(0, expr.dataType))) == norm(toScala(interpreted)), s"$what: values differ")
  }

  test("every RowKernel: eval == generated code on null and edge inputs") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try cases.foreach { case (name, c) =>
      val nulls = c.types.indices.map(i => c.types.indices.map(j => if (j == i) null else c.rows.head(j)))
      for (row <- c.rows) Seq(true, false).foreach(compare(name, c, row, _))
      for (row <- nulls :+ c.types.map(_ => null)) compare(name, c, row, nullableInputs = true)
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("the table covers every RowKernel in src/main") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val names = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      """extends RowKernel\("(graft_\w+)"""".r.findAllMatchIn(Files.readString(f)).map(_.group(1))
    }.toSet
    assert(names == cases.keySet, s"kernels without a case: ${names -- cases.keySet}")
  }

  test("source guard: one doGenCode in src/main, the RowKernel base's") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val hits = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      """\bdef doGenCode\b""".r.findAllIn(Files.readString(f)).map(_ => f.getFileName.toString)
    }
    assert(hits == Seq("RowKernel.scala"), "a kernel names its row function through RowKernel, not its own codegen")
  }
}
