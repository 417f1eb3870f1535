package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{EventF, IpF, TextF}

/** Property-style tests: ScalaCheck generators (fixed seed) produce a case
  * table, one DataFrame pass evaluates the kernel, and a plain-Scala model
  * checks every row — randomized coverage without per-case Spark jobs. */
class PropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.from(0).map(i => g.apply(Gen.Parameters.default, Seed(42L + i)))
      .flatten.take(n).toSeq

  test("anonIpv4 property: group count preserved, first 4-n octets intact") {
    import spark.implicits._
    val ipGen = for {
      a <- Gen.choose(0, 255); b <- Gen.choose(0, 255)
      c <- Gen.choose(0, 255); d <- Gen.choose(0, 255)
    } yield s"$a.$b.$c.$d"
    val cases = sample(ipGen, 200)
    for (n <- 1 to 4) {
      val out = cases.toDF("ip").select(col("ip"), IpF.anonIpv4(col("ip"), n).as("anon"))
        .collect().map(r => r.getString(0) -> r.getString(1))
      out.foreach { case (ip, anon) =>
        val in = ip.split("\\.")
        val an = anon.split("\\.")
        assert(an.length == 4, s"$ip -> $anon")
        assert(an.take(4 - n).sameElements(in.take(4 - n)), s"$ip -> $anon")
        assert(an.drop(4 - n).forall(_ == "x"), s"$ip -> $anon")
      }
    }
  }

  test("anonIp property: fused kernel == Column specification twin") {
    import spark.implicits._
    // structured v4/v6/mixed/mapped/garbage shapes, including the malformed
    // tails the reference vector table pins — the fused AnonIpExpression
    // must agree with the Column routing it replaced on every one
    val octet = Gen.choose(0, 299) // deliberately includes out-of-range
    val group = Gen.oneOf(Gen.choose(0, 0xffff).map(_.toHexString), Gen.const("zzzz"))
    val v4 = for { a <- octet; b <- octet; c <- octet; d <- octet } yield s"$a.$b.$c.$d"
    val v6full = Gen.listOfN(8, group).map(_.mkString(":"))
    val v6short = for {
      l <- Gen.choose(0, 3); r <- Gen.choose(0, 3)
      ls <- Gen.listOfN(l, group); rs <- Gen.listOfN(r, group)
    } yield ls.mkString(":") + "::" + rs.mkString(":")
    val mixed = for { p <- Gen.oneOf("64:ff9b::", "2001:db8::", "::"); t <- v4 } yield p + t
    val mapped = v4.map("::FFFF:" + _)
    val mappedLower = v4.map("::ffff:" + _)
    val garbage = Gen.oneOf("", "hello;goodbye", "777.2", "4b0c:333", "not-an-ip", "a.b.c.d")
    val gen = Gen.oneOf(v4, v6full, v6short, mixed, mapped, mappedLower, garbage)
    val cases = sample(gen, 400).distinct
    for ((o, s) <- Seq((1, 1), (2, 4), (4, 8), (3, 6))) {
      val out = cases.toDF("ip")
        .select(col("ip"),
          IpF.anonIp(col("ip"), o, s).as("fused"),
          IpF.anonIpColumns(col("ip"), o, s).as("spec"))
        .collect()
      out.foreach { r =>
        assert(r.getString(1) == r.getString(2), s"anonIp(${r.getString(0)}, $o, $s)")
      }
    }
  }

  test("referer lookup property: expression == naive model over db-derived hosts") {
    import spark.implicits._
    import graft.functions.{RefererDb, RefererDbData}
    // independent naive model: generate ALL candidate keys in referer-parser
    // priority order and take the first present in the db map
    val dbMap: Map[String, Int] = {
      val m = scala.collection.mutable.LinkedHashMap[String, Int]()
      RefererDbData.Keys.foreach { case (k, i) => if (!m.contains(k)) m += k -> i }
      m.toMap
    }
    def naive(host: String, path: String): Int = {
      def suffixes(h: String): Seq[String] =
        Iterator.iterate(h)(x => x.substring(x.indexOf('.') + 1))
          .takeWhile(_ => true).take(h.count(_ == '.') + 1).toSeq
      val segs = path.split("/")
      val seg1 = if (segs.length > 1 && segs(1).nonEmpty) "/" + segs(1) else null
      val pass1 = suffixes(host).flatMap(sfx => Seq(sfx + path) ++ Option(seg1).map(sfx + _))
      val pass2 = suffixes(host)
      (pass1 ++ pass2).collectFirst { case k if dbMap.contains(k) => dbMap(k) }.getOrElse(-1)
    }
    val baseKey = Gen.oneOf(RefererDbData.Keys.map(_._1).filterNot(_.contains("/")))
    val hostGen = for {
      k <- baseKey
      pre <- Gen.oneOf("", "www.", "deep.l2.", "x-y.")
      mangle <- Gen.oneOf(identity[String] _, (s: String) => "not" + s)
    } yield mangle(pre + k)
    val pathGen = Gen.oneOf("", "/", "/imgres", "/imgres/deep", "/webmail", "/p/1", "/search")
    val cases = sample(Gen.zip(hostGen, pathGen), 300).distinct
    val out = cases.toDF("h", "p")
      .select(col("h"), col("p"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.plans.RefererLookupExpression(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("h")),
            org.apache.spark.sql.graft.ColumnBridge.expression(col("p")))).as("idx"))
      .collect()
    out.foreach { r =>
      assert(r.getInt(2) == naive(r.getString(0), r.getString(1)),
        s"lookup(${r.getString(0)}, ${r.getString(1)})")
    }
  }

  test("deviceClass property: fused kernel == Column specification twin") {
    import spark.implicits._
    import graft.functions.UaF
    import graft.queries.Synth
    // every synth UA plus randomized token soups hitting each cascade branch
    val token = Gen.oneOf("PlayStation", "Nintendo", "AFTMM", "AFTx", "Tizen", "webOS",
      "Opera Mini/7", "iPad", "GT-P1000", "SM-T870", "Nexus 7", "Nexus 8", "Kindle",
      "Android", "Mobile", "iPhone", "Windows Phone", "bot", "Googlebot", "curl/8",
      "SMART-TV", "Silk/1", "gecko", "xbox", "Xbox")
    val soup = Gen.listOf(token).map(_.mkString("Mozilla/5.0 (", "; ", ") test"))
    val cases = (Synth.UAs ++ sample(soup, 300)).distinct
    val out = cases.toDF("ua")
      .select(col("ua"), UaF.deviceClass(col("ua")).as("fused"),
        UaF.deviceClassColumns(col("ua")).as("spec"))
      .collect()
    out.foreach(r => assert(r.getString(1) == r.getString(2), s"deviceClass(${r.getString(0)})"))
  }

  test("browser family/version/isBot property: fused kernels == Column twins") {
    import spark.implicits._
    import graft.functions.UaF
    import graft.queries.Synth
    // every synth + universe UA, plus token soups that exercise rule order
    // (webview tokens riding on Chrome/Safari UAs, gecko forks with
    // Firefox/, bot tokens, version-bearing and version-less rules)
    val token = Gen.oneOf("FBAV/412.0", "Instagram 300.1", "Edg/120.0.1",
      "OPR/105.0", "Opera Mini/7.6", "Opera 7.02", "PaleMoon/33.0",
      "Firefox/121.0", "FxiOS/121.0", "SamsungBrowser/23.0", "UCBrowser/13.4",
      "YaBrowser/23.11", "Chrome/120.0.0.0", "CriOS/120.0", "Chromium/120.0",
      "Version/17.1", "Safari/605.1.15", "MSIE 9.0", "Trident/7.0", "rv:11.0",
      "musical_ly", "TenFourFox/", "NAVER(inapp", "360SE", "LBBROWSER",
      "Googlebot/2.1", "curl/8.4.0", "python-requests/2.31", "bot", "gecko",
      "Silk/94.2", "Ecosia android@110.0", "Links (2.28", "w3m/0.5.3",
      "BlackBerry9900", "BB10; Touch", "Mobile", "Android 14")
    val soup = Gen.listOf(token).map(_.mkString("Mozilla/5.0 (", "; ", ") test"))
    val cases = (Synth.UAs ++ sample(soup, 300)).distinct // Synth.UAs embeds UaUniverse.Extra
    val out = cases.toDF("ua")
      .select(col("ua"),
        UaF.browserFamily(col("ua")).as("fam_fused"),
        UaF.browserFamilyColumns(col("ua")).as("fam_spec"),
        UaF.browserVersion(col("ua")).as("ver_fused"),
        UaF.browserVersionColumns(col("ua")).as("ver_spec"),
        UaF.isBot(col("ua")).as("bot_fused"),
        UaF.isBotColumns(col("ua")).as("bot_spec"))
      .collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(2), s"browserFamily(${r.getString(0)})")
      assert(r.getString(3) == r.getString(4) || (r.isNullAt(3) && r.isNullAt(4)),
        s"browserVersion(${r.getString(0)}): ${r.get(3)} != ${r.get(4)}")
      assert(r.getBoolean(5) == r.getBoolean(6), s"isBot(${r.getString(0)})")
    }
    // null-UA fall-throughs the Column cascade defines
    val nullRow = Seq[Option[String]](None).toDF("ua")
      .select(UaF.browserFamily(col("ua")), UaF.browserVersion(col("ua")), UaF.isBot(col("ua")))
      .collect().head
    assert(nullRow.getString(0) == "Unknown" && nullRow.isNullAt(1) && nullRow.isNullAt(2))
  }

  test("uaParsed property: one-pass kernel == the six UaParser Column twins") {
    import spark.implicits._
    import graft.functions.UaF
    import graft.queries.Synth
    val token = Gen.oneOf("FBAV/412.0", "Edg/120.0.1", "OPR/105.0", "Opera Mini/7.6",
      "Firefox/121.0", "Chrome/120.0.0.0", "Version/17.1", "Safari/605.1.15",
      "MSIE 9.0", "Trident/7.0", "Googlebot/2.1", "curl/8.4.0", "bot",
      "Windows NT 10.0", "Windows Phone 8.1", "Android 14", "KAIOS/2.5", "X11;",
      "Linux", "iPad", "iPhone", "Mobile", "PlayStation", "AFTMM", "SM-T870",
      "Nexus 7", "Tablet;", "SMART-TV")
    val soup = Gen.listOf(token).map(_.mkString("Mozilla/5.0 (", "; ", ") test"))
    // 64 KB UAs: a browser token past the first 64 KB, a bot token there,
    // and a long run of non-ASCII text with a surrogate pair
    val huge = Seq(
      "Mozilla/5.0 " + "x" * 65536 + " Chrome/120.0.0.0 Safari/537.36",
      "Mozilla/5.0 (Android 14; Mobile) " + "y" * 65536 + " Googlebot/2.1",
      "Mozilla/5.0 (iPad) " + "ü😀" * 21846 + " Version/17.1 Safari/605.1.15")
    val cases = (Synth.UAs ++ sample(soup, 300) ++ huge :+ "").distinct.map(Option(_)) :+ None
    val fields = Seq("br_family", "br_version", "os_family", "dvce_type", "dvce_ismobile", "is_bot")
    val k = UaF.uaParsed(col("ua"))
    val out = cases.toDF("ua")
      .select(col("ua") +: fields.map(f => k.getField(f).as(s"k_$f")) :+
        UaF.browserFamilyColumns(col("ua")).as("br_family") :+
        UaF.browserVersionColumns(col("ua")).as("br_version") :+
        UaF.osFamily(col("ua")).as("os_family") :+
        UaF.deviceClassColumns(col("ua")).as("dvce_type") :+
        UaF.isMobile(col("ua")).as("dvce_ismobile") :+
        UaF.isBotColumns(col("ua")).as("is_bot"): _*)
      .collect()
    assert(out.length == cases.length)
    out.foreach { r =>
      fields.foreach { f =>
        val (got, want) = (r.getAs[Any](s"k_$f"), r.getAs[Any](f))
        assert(got == want, s"$f(${Option(r.getString(0)).map(_.take(80))}): $got != $want")
      }
    }
    // the struct carries each twin's nullability into the output schema
    val schema = cases.toDF("ua").select(fields.map(f => k.getField(f).as(f)): _*).schema
    assert(fields.map(schema(_).nullable) == Seq(false, true, false, true, true, true))
  }

  test("trackerParams property: one-walk kernel == qsParam regex twin per key") {
    import spark.implicits._
    import graft.functions.UrlF
    // the protocol keys plus keys that are prefixes/suffixes of them
    val keys = graft.enrich.Protocol.TrackerKeys ++ Seq("ev", "re", "pp", "tp", "u", "sp", "tr_t")
    val crafted = Seq(
      "e=pv&ev=x", "ev=x&e=pv", "re=1&e=se", "res=1x2&re=3", "pp=1&p=web",
      "tp=2&p=mob", "p=&p=web", "e=&e=pv", "e=pv&e=pp", "&e=pv", "&&e=pv",
      "e=pv&&p=web", "e=pv&", "p=web&e", "e", "e=", "=pv&e=se", "e==pv",
      "url=https://x.com/a?b=c=d", "url=http%3A%2F%2Fx.com%2F%3Fa%3D1&refr=a+b",
      "tr_tt=12.5&tr_cu=USD&tr_t=1", "uid=ü&tr_cu=€", "uid=😀x&e=😀&_sp=a😀b",
      "E=pv&e=se", "e =pv&p=web", "e=p\nv&p=w\r\n", "_sp=abc.123&sp=x",
      "dtm=1700000000000&stm=&ttm=17", "ue_px=eyJ9&e=ue", "", "&", "&&", "=", "==")
    val big = Seq(
      "x=" + "a" * 8192 + "&e=pv&p=web",
      (0 until 900).map(i => s"k$i=v").mkString("&") + "&uid=last&e=se",
      "refr=" + "%C3%BC" * 1400 + "&res=1920x1080")
    val piece = Gen.oneOf(keys ++ Seq("", "x", "E", "tr_", "_")).flatMap(k =>
      Gen.oneOf("", "=", "=pv", "=a=b", "=%41+b", "=ü", "=😀", "==").map(k + _))
    val soup = Gen.listOf(piece).map(_.mkString("&"))
    val cases = (crafted ++ big ++ sample(soup, 400)).distinct.map(Option(_)) :+ None
    val k = UrlF.trackerParams(col("qs"), keys)
    val out = cases.toDF("qs")
      .select(col("qs") +: keys.map(f => k.getField(f).as(s"k_$f")) ++:
        keys.map(f => UrlF.qsParam(col("qs"), f).as(s"re_$f")): _*)
      .collect()
    assert(out.length == cases.length)
    out.foreach { r =>
      keys.foreach { f =>
        val (got, want) = (r.getAs[String](s"k_$f"), r.getAs[String](s"re_$f"))
        assert(got == want, s"$f(${Option(r.getString(0)).map(_.take(80))}): $got != $want")
      }
    }
    // a name no pair can carry is rejected when the plan is built
    Seq("", "a=b", "a&b").foreach { bad =>
      intercept[IllegalArgumentException](UrlF.trackerParams(col("qs"), Seq("e", bad)))
    }
  }

  test("canonicalizeUrl property: idempotent, tracking-free, port-normalized") {
    import spark.implicits._
    import graft.functions.UrlF
    val urlGen = for {
      scheme <- Gen.oneOf("http", "https", "HTTP", "Https")
      host <- Gen.oneOf("Example.com", "shop.example.NET", "a.b.co")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf("", "/", "/p/1", "/a/b.html")
      qs <- Gen.oneOf("", "?utm_source=x", "?a=1&utm_medium=y&b=2", "?gclid=g&fbclid=f",
        "?q=red+shoes", "?a=1&a=2", "?empty=")
      frag <- Gen.oneOf("", "#top")
    } yield s"$scheme://$host$port$path$qs$frag"
    val cases = sample(urlGen, 300).distinct
    val out = cases.toDF("u")
      .select(col("u"), UrlF.canonicalizeUrl(col("u")).as("c1"))
      .withColumn("c2", UrlF.canonicalizeUrl(col("c1")))
      .collect()
    out.foreach { r =>
      val (u, c1, c2) = (r.getString(0), r.getString(1), r.getString(2))
      assert(c1 == c2, s"not idempotent: $u -> $c1 -> $c2")
      assert(!c1.contains("utm_") && !c1.contains("gclid") && !c1.contains("fbclid"), s"$u -> $c1")
      assert(!c1.contains("#"), s"fragment survived: $u -> $c1")
      assert(!c1.contains(":80/") && !c1.contains(":443/") || u.toLowerCase.startsWith("https://") && c1.contains(":80/")
        || u.toLowerCase.startsWith("http://") && c1.contains(":443/"),
        s"default port survived: $u -> $c1") // :80 on https / :443 on http are NOT defaults
      assert(c1.startsWith("http://") || c1.startsWith("https://"), s"$u -> $c1")
    }
  }

  test("scrubPii property: no email/phone pattern survives scrubbing") {
    import spark.implicits._
    val textGen = for {
      pre <- Gen.oneOf("hello", "reach us:", "x")
      mid <- Gen.oneOf("bob@example.com", "a.b+c@d-e.org", "555-123-4567", "12-34-56", "plain")
      sep <- Gen.oneOf(" ", ", ", "; ")
      tail <- Gen.oneOf("call 555-999-0000", "mail x@y.io", "bye")
    } yield s"$pre$sep$mid$sep$tail"
    val cases = sample(textGen, 200).distinct
    val out = cases.toDF("t")
      .select(col("t"), TextF.scrubPii(col("t")).as("s"),
        TextF.emailCount(TextF.scrubPii(col("t"))).as("e_after"),
        TextF.phoneCount(TextF.scrubPii(col("t"))).as("p_after"))
      .collect()
    out.foreach { r =>
      assert(r.getInt(2) == 0, s"email survived: ${r.getString(0)} -> ${r.getString(1)}")
      assert(r.getInt(3) == 0, s"phone survived: ${r.getString(0)} -> ${r.getString(1)}")
    }
  }

  test("ipv4ToLong property: matches arithmetic model") {
    import spark.implicits._
    val gen = Gen.choose(0L, 4294967295L)
    val cases = sample(gen, 300)
    val ips = cases.map(v => (v, s"${v >> 24}.${(v >> 16) & 255}.${(v >> 8) & 255}.${v & 255}"))
    val out = ips.toDF("expected", "ip")
      .select(col("expected"), IpF.ipv4ToLong(col("ip")).as("got"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("shingles property: count and width") {
    import spark.implicits._
    val tokGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.alphaLowerStr.map(s => "t" + s.take(3))))
    val cases = sample(tokGen, 150)
    for (k <- Seq(2, 3, 5)) {
      val out = cases.map(_.mkString(" ")).toDF("t")
        .select(split(col("t"), " ").as("toks"))
        .select(col("toks"), TextF.shinglesFromTokens(col("toks"), k).as("sh"))
        .collect()
      out.foreach { r =>
        val toks = r.getSeq[String](0)
        val sh = r.getSeq[String](1)
        assert(sh.length == math.max(0, toks.length - k + 1))
        sh.foreach(s => assert(s.split(" ", -1).length == k))
      }
    }
  }

  test("event fingerprint property: invariant to declaration order, sensitive to values") {
    import spark.implicits._
    val df = Seq(("a1", "b2")).toDF("x", "y")
    val f1 = df.select(EventF.eventFingerprint("md5", Seq("k1" -> col("x"), "k2" -> col("y"))).as("f"))
      .collect()(0).getString(0)
    val f2 = df.select(EventF.eventFingerprint("md5", Seq("k2" -> col("y"), "k1" -> col("x"))).as("f"))
      .collect()(0).getString(0)
    val f3 = df.select(EventF.eventFingerprint("md5", Seq("k1" -> col("y"), "k2" -> col("x"))).as("f"))
      .collect()(0).getString(0)
    assert(f1 == f2)
    assert(f1 != f3)
  }

  test("js JSON property: stringify∘parse is identity on generated JSON values") {
    import graft.js._
    // generator over the JSON value space (bounded depth; numbers kept to
    // exactly-representable doubles so text round-trips are exact)
    val leafGen: Gen[JsVal] = Gen.oneOf(
      Gen.const(JsNull),
      Gen.oneOf(true, false).map(JsBool(_)),
      Gen.choose(-1000000, 1000000).map(n => JsNum(n.toDouble)),
      Gen.choose(-4096, 4096).map(n => JsNum(n / 8.0)), // dyadic rationals
      Gen.asciiPrintableStr.map(JsStr(_)),
      Gen.oneOf("tab\t", "nl\n", "q\"q", "bs\\", "unicodeé中").map(JsStr(_)))
    def valGen(depth: Int): Gen[JsVal] =
      if (depth == 0) leafGen
      else Gen.frequency(
        3 -> leafGen,
        1 -> Gen.listOfN(3, valGen(depth - 1)).map(vs => JsVal.arr(vs: _*)),
        1 -> Gen.listOfN(3, Gen.zip(Gen.identifier, valGen(depth - 1)))
          .map(kvs => JsVal.obj(kvs.distinctBy(_._1): _*)))
    def eq(a: JsVal, b: JsVal): Boolean = (a, b) match {
      case (x: JsArr, y: JsArr) =>
        x.items.length == y.items.length && x.items.lazyZip(y.items).forall(eq)
      case (x: JsObj, y: JsObj) =>
        x.props.keys.toSeq == y.props.keys.toSeq &&
          x.props.forall { case (k, v) => eq(v, y.props(k)) }
      case _ => a == b
    }
    sample(valGen(3), 300).foreach { v =>
      val s = JsJson.stringify(v).get
      assert(eq(JsJson.parse(s), v), s"round trip failed for $s")
      // and stringify is stable across the round trip (canonical form)
      assert(JsJson.stringify(JsJson.parse(s)).get == s)
    }
  }

  test("derived timestamp property: result is trueTs, collector, or skew-corrected") {
    import spark.implicits._
    val gen = for {
      coll <- Gen.choose(1000000L, 2000000L)
      sentDelta <- Gen.choose(-500L, 500L)
      createdDelta <- Gen.choose(-500L, 500L)
      hasTrue <- Gen.oneOf(true, false)
    } yield (coll, coll + sentDelta, coll + createdDelta, if (hasTrue) Some(coll - 42L) else None)
    val cases = sample(gen, 200)
    val out = cases.map { case (c, s, cr, t) => (c, s, cr, t.map(Long.box).orNull) }
      .toDF("coll", "sent", "created", "trueTs")
      .select(col("coll"), col("sent"), col("created"), col("trueTs"),
        EventF.derivedTstampMicros(col("coll"), col("created"), col("sent"), col("trueTs")).as("d"))
      .collect()
    out.foreach { r =>
      val (c, s, cr, t, d) = (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4))
      t match {
        case Some(tv) => assert(d == tv)
        case None if cr < s => assert(d == c - (s - cr))
        case None => assert(d == c)
      }
    }
  }

  test("unicodeNormalize property: codegen kernel == JDK model, idempotent") {
    import spark.implicits._
    // strings over an alphabet mixing ASCII, precomposed, decomposed pieces
    // (combining acute/diaeresis/ring) and an NFKC-foldable ligature — the
    // shapes where the ASCII fast path and the JDK slow path hand off
    val piece = Gen.oneOf("a", "z", "9", " ", "\u00e9", "e", "\u0301",
      "\u0308", "A", "\u030a", "\ufb03", "\u00c5")
    val strGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, piece).map(_.mkString))
    val cases = sample(strGen, 300).distinct
    val out = cases.toDF("s")
      .select(col("s"),
        TextF.unicodeNormalize(col("s")).as("nfc"),
        TextF.unicodeNormalize(TextF.unicodeNormalize(col("s"))).as("nfc2"),
        TextF.unicodeNormalize(col("s"), "NFKC").as("nfkc"))
      .collect()
    val NFC = java.text.Normalizer.Form.NFC
    val NFKC = java.text.Normalizer.Form.NFKC
    out.foreach { r =>
      val (s, nfc, nfc2, nfkc) = (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
      assert(nfc == java.text.Normalizer.normalize(s, NFC), s"NFC mismatch for ${s.map(_.toInt)}")
      assert(nfkc == java.text.Normalizer.normalize(s, NFKC), s"NFKC mismatch for ${s.map(_.toInt)}")
      assert(nfc2 == nfc, s"NFC not idempotent for ${s.map(_.toInt)}")
    }
  }

  test("zInterleave property: injective, de-interleavable, Column == model") {
    import spark.implicits._
    import graft.functions.LayoutF
    val bits = 8
    val pairGen = for { x <- Gen.choose(0L, 255L); y <- Gen.choose(0L, 255L) } yield (x, y)
    val cases = sample(pairGen, 300).distinct
    val out = cases.toDF("x", "y")
      .select(col("x"), col("y"), LayoutF.zInterleave(col("x"), col("y"), bits).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (x, y, z) =>
      assert(z == LayoutF.zInterleaveModel(x, y, bits), s"($x,$y)")
      assert(LayoutF.zDeinterleaveModel(z, bits) == ((x, y)), s"z=$z")
    }
    // injectivity across the sampled grid
    assert(out.map(_._3).distinct.length == cases.length)
  }

  test("connected components property: distributed labels == union-find on adversarial graphs") {
    import spark.implicits._
    // random sparse graphs plus the shapes that stress the algorithm:
    // a long chain (pointer-jump depth), a star (hub fan-in), two cliques
    // bridged by one edge (merge across dense blocks)
    val rnd = new scala.util.Random(7)
    val randoms = (0 until 3).map { _ =>
      (0 until 40).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(e => e._1 != e._2)
    }
    val chain = (0L until 49L).map(i => (i, i + 1))
    val star = (1L to 20L).map(i => (0L, i))
    val cliques = (for { a <- 100L to 104L; b <- 100L to 104L if a < b } yield (a, b)) ++
      (for { a <- 200L to 204L; b <- 200L to 204L if a < b } yield (a, b)) :+ (104L, 200L)
    (randoms :+ chain :+ star :+ cliques.toSeq).foreach { edges =>
      val df = edges.toDF("src", "dst")
      val got = graft.operators.ConnectedComponents.run(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute-force union-find with min-label normalization
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val groups = nodes.groupBy(find).flatMap { case (_, ns) =>
        val m = ns.min; ns.map(_ -> m)
      }
      assert(got == groups, s"CC mismatch on ${edges.take(5)}...")
    }
  }

  test("KMV theta property: k smallest of sketch-union == k smallest of true union") {
    val k = 32
    val genSet = Gen.listOfN(200, Gen.chooseNum(0L, 5000L)).map(_.toSet)
    sample(Gen.zip(genSet, genSet), 50).foreach { case (a, b) =>
      val (kmvA, kmvB) = (a.toSeq.sorted.take(k).toSet, b.toSeq.sorted.take(k).toSet)
      val fromSketches = (kmvA | kmvB).toSeq.sorted.take(k)
      val fromTruth = (a | b).toSeq.sorted.take(k)
      assert(fromSketches == fromTruth)
      // and below theta, sketch membership decides true intersection
      fromTruth.foreach { h =>
        assert((kmvA(h) && kmvB(h)) == (a(h) && b(h)))
      }
    }
  }

  /** URL universe shared by the three r16 fused-kernel differential tests:
    * synth page/referer shapes, the whole generated referer-db sweep, plus
    * adversarial shapes (schemeless, empty host, bare/huge/zero-padded
    * ports, query-before-scheme, multiple ?/#, empty values, '+' forms,
    * malformed %-escapes, %09/%00 control escapes, internal hosts). */
  private lazy val urlUniverse: Seq[String] = {
    import graft.functions.RefererDbData
    val crafted = Seq(
      "", "no-scheme", "http//missing.colon/p", "://bare", "1http://digit.first/",
      "http://", "http://:8080/p", "http://host", "http://host/", "http://host:80/p",
      "https://host:443/p?q=1", "http://host:0080/p", "http://host:99999999999/p",
      "http://h:00000000000080/", "http://h:000000000000000/p",
      "http://host:12ab/p", "http://host:/p", "HTTPS://UP.example.COM:8443/Deep/Path?A=b#Frag",
      "scheme+x.y-z://odd.scheme/p", "http://h/p?", "http://h/p?#f", "http://h/p#",
      "http://h/p##double#frag", "http://h?q=1#f?fake=2", "what?is=this#anyway",
      "http://h/p?a=1&b=2&a=3", "http://h/p?empty=&c=2", "http://h/p?&=&&x",
      "http://h/p?utm_medium=&mkt_medium=cpc", "http://h/p?xutm_source=no&utm_source=yes",
      "http://h/p?a=utm_campaign=sneaky&utm_campaign=real",
      "http://h/p?q=red+shoes&utm_term=native+american+tarot+deck",
      "http://h/p?utm_content=c%20d&next=%2Fcheckout%3Fstep%3D2",
      "http://h/p?utm_source=%zz&utm_campaign=%2", "http://h/p?gclid=&msclkid=ms1",
      "http://h/p?dclid=d%201&fbclid=f1", "http://h/p?fbclid=%E2%82%AC",
      "https://www.google.com/search?q=%09tabbed%09&utm_source=g",
      "https://www.google.com/search?q=%00ctrl%7F&oq=x",
      "https://search.yahoo.com/search?hl=en&p=thing+1&q=shadowed",
      "https://shop.example.com/home", "https://www.internal.example.org/x?q=self",
      "https://yandex.ru/search/?text=item+7", "http://shop.example.com/p/1?q=a#s",
      "ftp://files.example.com:2121/pub", "mailto:someone@example.com?subject=hi",
      // embedded line terminators: java.util.regex '.' stops at them and
      // '$' (no MULTILINE) matches only at end or before a FINAL one —
      // the imperative fragment twin must reproduce all four shapes
      "http://h/p#frag\n", "a#b\ncd", "http://h/p#x\r\n", "http://h/p#\n",
      "http://h/p#a\rb", "http://h/p?q=1\n#f")
    val synthPages = (0 until 40).map { e =>
      val qs = (e % 5) match {
        case 0 => s"?utm_source=google&utm_medium=cpc&utm_campaign=spring_sale&gclid=g$e"
        case 1 => "?utm_source=newsletter&utm_medium=email&utm_campaign=weekly"
        case 2 => s"?q=red+shoes&page=$e"
        case 3 => s"?fbclid=fb$e&utm_campaign=retarget"
        case _ => if (e % 10 == 4) "?q=c%20d&empty=&next=%2Fcheckout%3Fstep%3D2" else ""
      }
      s"https://shop.example.com/p/$e$qs" + (if (e % 7 == 0) "#section2" else "")
    }
    (crafted ++ synthPages ++ RefererDbData.SynthUrls).distinct
  }

  test("urlParsed property: fused kernel == regex specification twins") {
    import spark.implicits._
    import graft.functions.UrlF
    val out = urlUniverse.toDF("u")
      .select(col("u"), UrlF.urlParsed(col("u")).as("k"),
        UrlF.urlSchemeSpec(col("u")).as("scheme"), UrlF.urlHostSpec(col("u")).as("host"),
        UrlF.urlPortSpec(col("u")).as("port"), UrlF.urlPathSpec(col("u")).as("path"),
        UrlF.urlQuerySpec(col("u")).as("query"), UrlF.urlFragmentSpec(col("u")).as("frag"),
        nullif(regexp_extract(col("u"),
          "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/:?#]*:([0-9]+)", 1), lit("")).as("eport"))
      .collect()
    out.foreach { r =>
      val k = r.getStruct(1)
      def s(i: Int): String = if (k.isNullAt(i)) null else k.getString(i)
      assert(s(0) == r.getAs[String]("scheme"), s"scheme(${r.getString(0)})")
      assert(s(1) == r.getAs[String]("host"), s"host(${r.getString(0)})")
      assert((if (k.isNullAt(2)) null else Integer.valueOf(k.getInt(2)))
        == r.getAs[Integer]("port"), s"port(${r.getString(0)})")
      assert(s(3) == r.getAs[String]("eport"), s"eport(${r.getString(0)})")
      assert(s(4) == r.getAs[String]("path"), s"path(${r.getString(0)})")
      assert(s(5) == r.getAs[String]("query"), s"query(${r.getString(0)})")
      assert(s(6) == r.getAs[String]("frag"), s"fragment(${r.getString(0)})")
    }
    // null URL → null struct → null fields
    val nr = Seq[Option[String]](None).toDF("u")
      .select(graft.functions.UrlF.urlHost(col("u")), graft.functions.UrlF.urlPort(col("u")))
      .collect().head
    assert(nr.isNullAt(0) && nr.isNullAt(1))
  }

  test("campaignAttribution property: fused kernel == Column twin") {
    import spark.implicits._
    import graft.functions.UrlF
    val mediumP = Seq("utm_medium", "mkt_medium")
    val sourceP = Seq("utm_source", "mkt_source")
    val termP = Seq("utm_term", "q")
    val contentP = Seq("utm_content")
    val campaignP = Seq("utm_campaign", "mkt_campaign")
    val networks = Seq("gclid" -> "Google", "msclkid" -> "Microsoft",
      "dclid" -> "DoubleClick", "fbclid" -> "Facebook")
    val qs = UrlF.urlQuerySpec(col("u"))
    // the pre-r16 CampaignAttribution Column spelling, verbatim
    val clickIdSpec = UrlF.qsValueDecoded(
      coalesce(networks.map { case (k, _) => UrlF.qsParam(qs, k) }: _*))
    val networkSpec = networks
      .foldLeft(when(lit(false), lit(""))) { case (acc, (k, v)) =>
        acc.when(UrlF.qsParam(qs, k).isNotNull, lit(v))
      }.otherwise(lit(null))
    val fused = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.CampaignAttributionExpression(
        org.apache.spark.sql.graft.ColumnBridge.expression(qs),
        UrlF.CampaignCfg(mediumP, sourceP, termP, contentP, campaignP, networks)))
    val out = urlUniverse.toDF("u")
      .select(col("u"), fused.as("k"),
        UrlF.firstParamDecoded(qs, mediumP).as("medium"),
        UrlF.firstParamDecoded(qs, sourceP).as("source"),
        UrlF.firstParamDecoded(qs, termP).as("term"),
        UrlF.firstParamDecoded(qs, contentP).as("content"),
        UrlF.firstParamDecoded(qs, campaignP).as("campaign"),
        clickIdSpec.as("clickid"), networkSpec.as("network"))
      .collect()
    out.foreach { r =>
      val k = r.getStruct(1)
      Seq("medium", "source", "term", "content", "campaign", "clickid", "network")
        .zipWithIndex.foreach { case (f, i) =>
          val kv = if (k == null || k.isNullAt(i)) null else k.getString(i)
          assert(kv == r.getAs[String](f), s"$f(${r.getString(0)}): $kv != ${r.getAs[String](f)}")
        }
    }
  }

  test("refererParsed property: fused kernel == Column specification twins") {
    import spark.implicits._
    import graft.functions.{RefF, UrlF}
    val internal = Seq("www.internal.example.org", "intra.example.com")
    // pair every universe referer with page URLs that do / don't make it
    // internal (including a null-host page URL)
    val pages = Seq("https://shop.example.com/p/1", "https://www.internal.example.org/x",
      "not-a-url", null)
    val cases = for (u <- urlUniverse; p <- pages) yield (u, p)
    val fused = RefF.refererParsed(col("r"), UrlF.urlHost(col("p")), internal)
    val out = cases.toDF("r", "p")
      .select(col("r"), col("p"), fused.as("k"),
        UrlF.urlHostSpec(col("r")).as("host"),
        RefF.refererMediumSpec(col("r"), col("p"), internal).as("medium"),
        RefF.refererSourceSpec(col("r"), col("p"), internal).as("source"),
        RefF.refererTermSpec(col("r"), col("p"), internal).as("term"))
      .collect()
    out.foreach { r =>
      val k = r.getStruct(2)
      Seq("host", "medium", "source", "term").zipWithIndex.foreach { case (f, i) =>
        val kv = if (k == null || k.isNullAt(i)) null else k.getString(i)
        assert(kv == r.getAs[String](f),
          s"$f(${r.getString(0)}, ${r.getString(1)}): $kv != ${r.getAs[String](f)}")
      }
    }
    // null referer → all-null struct
    val nr = Seq((null: String, "https://shop.example.com/")).toDF("r", "p")
      .select(RefF.refererMedium(col("r"), col("p"), internal),
        RefF.refererSource(col("r"), col("p"), internal))
      .collect().head
    assert(nr.isNullAt(0) && nr.isNullAt(1))
  }

  test("minhashComponents property: fused kernel == composable array_min(transform) twin") {
    import spark.implicits._
    import graft.functions.TextF
    // text universe: synth-like prose, short docs (< k tokens → empty
    // shingles → null components), empty/whitespace/punct-only text,
    // repeated shingles (multiset == set minimum), unicode
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b", "a", "", "   ", "!!!", "a b c", "a b c a b c a b c",
      "same same same same same",
      "Unicode snowman ☃ and accents café naïve",
      "numbers 123 456 789 mixed a1b2") ++
      (0 until 30).map(i => s"doc $i body token${i % 7} token${i % 3} tail ${i * 37}")
    val seeds = Seq(0, 1, 2, 3, 100, 101)
    val sh = TextF.shinglesFromTokens(TextF.tokens(col("t")), 3)
    val out = texts.toDF("t")
      .select(col("t"),
        TextF.minhashComponents(sh, seeds).as("k"),
        TextF.minhashComponentsSpec(sh, seeds).as("s"))
      .collect()
    out.foreach { r =>
      val k = r.getSeq[String](1); val s = r.getSeq[String](2)
      assert(k == s, s"minhash(${r.getString(0)}): $k != $s")
    }
    // null input array → null output
    val nr = Seq(Tuple1[Option[String]](None)).toDF("t")
      .select(TextF.minhashComponents(TextF.tokens(col("t")), Seq(0)))
      .collect().head
    assert(nr.isNullAt(0))
  }

  test("scoreCol property: fused feature-score kernel == composable aggregate twin") {
    import spark.implicits._
    import graft.queries.Queries15
    val texts = Seq(
      "the quick brown fox", "a", "", "repeat repeat repeat",
      "mixed 123 tokens 456 with numbers",
      "longer document body with many distinct tokens to spread buckets widely") ++
      (0 until 25).map(i => s"doc $i tok${i % 9} tok${i % 5} end")
    val toks = graft.functions.TextF.tokens(col("t"))
    // bigram shape (nullable-element array type) exercised via the dsir
    // spelling's zip_with; plain tokens exercise the qc spelling
    val bigrams = when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit("_"), b))).otherwise(array().cast("array<string>"))
    val out = texts.toDF("t").select(
      Queries15.scoreCol(toks, "qc:", Queries15.QcWeights).as("k1"),
      Queries15.scoreColSpec(toks, "qc:", Queries15.QcWeights).as("s1"),
      Queries15.scoreCol(bigrams, "ds:", Queries15.DsirTarget).as("k2"),
      Queries15.scoreColSpec(bigrams, "ds:", Queries15.DsirTarget).as("s2"))
      .collect()
    out.foreach { r =>
      assert(r.get(0) == r.get(1), s"qc: ${r.get(0)} != ${r.get(1)}")
      assert(r.get(2) == r.get(3), s"ds: ${r.get(2)} != ${r.get(3)}")
    }
    // null array → null; null ELEMENT → null (the twin's acc + null)
    val nulls = Seq(Tuple1(Seq[String]("a", null, "b"))).toDF("arr")
      .select(Queries15.scoreCol(col("arr"), "qc:", Queries15.QcWeights),
        Queries15.scoreColSpec(col("arr"), "qc:", Queries15.QcWeights))
      .collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
    val nullArr = Seq(Tuple1[Option[Seq[String]]](None)).toDF("arr")
      .select(Queries15.scoreCol(col("arr"), "qc:", Queries15.QcWeights))
      .collect().head
    assert(nullArr.isNullAt(0))
  }

  test("scoreCol rejects a table that is not 64 entries when the plan is built") {
    val e = intercept[IllegalArgumentException](graft.queries.Queries15.scoreCol(
      graft.functions.TextF.tokens(col("t")), "qc:", Seq.fill(32)(1L)))
    assert(e.getMessage.contains("64 entries"))
  }

  test("sign-split division lemma: truncating and flooring engines agree after the split") {
    def truncDiv(a: Long, b: Long) = a / b // JVM/Spark: toward zero
    // a flooring engine (Python's //); DuckDB 1.0's // truncates on
    // integers like Spark, so the queries no longer split the sign
    def floorDiv(a: Long, b: Long) = Math.floorDiv(a, b)
    val gen = Gen.zip(Gen.chooseNum(-100000L, 100000L), Gen.chooseNum(1L, 999L))
    sample(gen, 500).foreach { case (num, den) =>
      def split(div: (Long, Long) => Long): Long =
        if (num >= 0) div(num, den) else -div(-num, den)
      assert(split(truncDiv) == split(floorDiv),
        s"split($num, $den) must be engine-independent")
      // and the raw operators DO diverge on some negative input (the lemma
      // is not vacuous): -7/2 = -3 truncated, -4 floored
    }
    assert(truncDiv(-7, 2) != floorDiv(-7, 2))
  }

  /** Strings that are not valid UTF-8 (truncated, stray continuation,
    * overlong, encoded surrogate, out of range), which Scala strings cannot
    * hold: hex → binary → string keeps the raw bytes. */
  private def withMalformedUtf8(df: org.apache.spark.sql.DataFrame, c: String,
      hex: Seq[String]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val others = df.columns.filterNot(_ == c).map(x => lit(null).cast(df.schema(x).dataType).as(x))
    df.unionByName(hex.toDF("h").select(unhex(col("h")).cast("string").as(c) +: others.toSeq: _*))
  }

  /** Kernel fields against their Column twins, row by row, nulls included. */
  private def assertSame(df: org.apache.spark.sql.DataFrame,
      pairs: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column)]): Unit = {
    val inputs = df.columns.toSeq
    val out = df.select(inputs.map(col) ++ pairs.flatMap { case (f, k, t) => Seq(k.as(s"k_$f"), t.as(s"t_$f")) }: _*)
    val schema = out.schema
    pairs.foreach { case (f, _, _) =>
      assert(schema(s"k_$f").dataType == schema(s"t_$f").dataType, s"$f type")
      assert(schema(s"k_$f").nullable == schema(s"t_$f").nullable, s"$f nullability")
    }
    val rows = out.collect()
    assert(rows.length == df.count())
    rows.foreach { r =>
      pairs.foreach { case (f, _, _) =>
        val (got, want) = (r.getAs[Any](s"k_$f"), r.getAs[Any](s"t_$f"))
        val in = inputs.map(c => s"$c=${Option(r.getAs[Any](c)).map(_.toString.take(80))}").mkString(", ")
        assert(got == want, s"$f($in): $got != $want")
      }
    }
  }

  // line terminators Java's `$` matches before, and pairs it does not
  private val Terminators = Seq("\n", "\r", "\r\n", "\u0085", "\u2028", "\u2029")
  private val NotTerminators = Seq("\n\n", "\r\r", "\n\r", " ", "\t", "\u000b", "\f", "x")

  test("trackerFields property: one-call kernel == the five TrackerTransform Column twins") {
    import spark.implicits._
    val codes = EventF.EventTypeMap.map(_._1) ++ Seq("PV", "Pv", "pV", "", "zz", " pv", "pv ",
      "pv\n", "ü", "ev\u0000", "s", "sex")
    val platforms = EventF.ValidPlatforms ++ Seq("WEB", "Web", "", "web ", " web", "mob\n", "pc2",
      "headsets", "tv\u0000")
    val int = Int.MaxValue.toLong
    val res = Seq("1920x1080", "0x0", "00001920x0001080", "1x1", "1920X1080", "x1080", "1920x", "x",
      "", "1920x1080x1", "-1x2", "+1x2", " 1920x1080", "1920 x1080", "1920×1080",
      s"${int}x1", s"${int + 1}x1", s"1x${int + 1}", s"${int}x$int",
      "1234567890123456789012345x1", "1x1234567890123456789012345",
      "9223372036854775807x1", "9223372036854775808x1", "0000000000000000000000001x2",
      "١٩٢٠x١٠٨٠", "１９２０x１０８０", "1920x١٠٨٠") ++
      (Terminators ++ NotTerminators).map("1920x1080" + _) ++
      Terminators.map(t => s"1920${t}x1080") ++ Terminators.map(t => s"${int + 1}x1$t")
    val xff = Seq("1.2.3.4", "1.2.3.4, 5.6.7.8", "1.2.3.4,5.6.7.8", "1.2.3.4|5.6.7.8",
      "1.2.3.4 5.6.7.8", "1.2.3.4 | 5.6.7.8 , 9.9.9.9", ",1.2.3.4", " 1.2.3.4", "|1.2.3.4", ",", "",
      "  ", "2001:db8::1, 10.0.0.1", "::ffff:1.2.3.4|x", "ü1.2.3.4,x", "😀 x", "a\tb,c", "a\nb c",
      "1.2.3.4 ,x", "unknown, 1.2.3.4")
    val n = Seq(codes, platforms, res, xff).map(_.size).max * 3
    def at[A](xs: Seq[A], i: Int, k: Int): Option[A] = // every value, and null, in rotating company
      if ((i / xs.size + k) % 7 == 6) None else Some(xs((i * (k + 1)) % xs.size))
    val rows = (0 until n).map(i => (at(codes, i, 0), at(platforms, i, 1), at(res, i, 2), at(xff, i, 3)))
    val df0 = rows.toDF("code", "platform", "res", "xff")
    val df = withMalformedUtf8(withMalformedUtf8(df0, "xff",
      Seq("31FF2C32", "C32C31", "EDA0802C31", "C0AE2031", "F4908080", "FF", "2C31FF", "61E282")),
      "res", Seq("31FF7832", "3178320A", "317832C285", "317832E280A8", "317832E280", "317832C2"))
    val k = EventF.trackerFields(col("code"), col("platform"), col("res"), col("xff"))
    assertSame(df, Seq(
      ("event", k.getField("event"), EventF.eventTypeFromCode(col("code"))),
      ("platform", k.getField("platform"), EventF.platformValidate(col("platform"))),
      ("dvce_screenwidth", k.getField("dvce_screenwidth"), EventF.resWidth(col("res"))),
      ("dvce_screenheight", k.getField("dvce_screenheight"), EventF.resHeight(col("res"))),
      ("user_ipaddress", k.getField("user_ipaddress"), graft.functions.IpF.firstForwardedIp(col("xff")))))
    // the crafted cases reach both outcomes of every field
    val got = df.select(k.as("k")).select("k.*").collect()
    (0 until 5).foreach { i =>
      assert(got.exists(_.isNullAt(i)) && got.exists(!_.isNullAt(i)), s"field $i")
    }
  }

  test("spParsed property: one-match kernel == the cross-navigation Column twins") {
    import spark.implicits._
    val long = Long.MaxValue
    val sps = Seq("abc.123", "abc.0", "a.1", "abc.", ".123", "abc..123", "a.b.123", "abc.12a",
      "abc.-1", "abc.+1", "abc. 1", "abc.1 ", "", ".", "..", "abc", "ü😀.123", "\n.123", "a\n.1",
      "abc.١٢٣", "abc.１２３", s"abc.${long / 1000}", s"abc.${long / 1000 + 1}", s"abc.$long",
      s"abc.${BigInt(long) + 1}", "abc." + "9" * 25, "abc.0000000000000000000000001") ++
      (Terminators ++ NotTerminators).map("abc.123" + _) ++ Terminators.map("abc." + "9" * 25 + _)
    val df = withMalformedUtf8((sps.map(Option(_)) :+ None).toDF("sp"), "sp",
      Seq("FF2E3132", "C32E31", "61FF2E310A", "EDA0802E31", "612E31C285", "612E31FF"))
    val k = EventF.spParsed(col("sp"))
    assertSame(df, Seq(
      ("duid", k.getField("duid"), EventF.spDomainUserId(col("sp"))),
      ("tstamp_us", k.getField("tstamp_us"), EventF.spTstampUs(col("sp")))))
    // an overflowing product is null, not an error, and a fitting one is exact
    val us = Seq(s"a.${long / 1000}", s"a.${long / 1000 + 1}").toDF("sp")
      .select(k.getField("tstamp_us")).collect().map(r => Option(r.get(0)))
    assert(us.toSeq == Seq(Some(long / 1000 * 1000), None))
  }

  test("fingerprintDigest property: one digest call == eventFingerprint for every algorithm") {
    import spark.implicits._
    val words = Gen.oneOf("", "pv", "web", "1920x1080", "ü", "😀", "a\u001fb", "\u0000", "x" * 300)
    val gen = for {
      a <- Gen.option(words); b <- Gen.option(words); c <- Gen.option(Gen.choose(-5, 5))
      d <- Gen.option(Gen.oneOf(0.5, -0.0, 1e300, Double.NaN))
    } yield (a, b, c, d)
    val df = (sample(gen, 200) :+ ((None, None, None, None))).toDF("e", "p", "n", "x")
    // keys out of order, non-string params, and a key repeated
    val params = Seq("p" -> col("p"), "e" -> col("e"), "n" -> col("n"), "x" -> col("x"), "e" -> col("p"))
    for (algo <- Seq("md5", "sha1", "sha256", "sha384", "sha512"); ps <- Seq(params, params.take(2), Nil))
      assertSame(df.withColumn("algo", lit(algo)), Seq(
        (algo, EventF.fingerprintDigest(algo, ps), EventF.eventFingerprint(algo, ps))))
    intercept[IllegalArgumentException](EventF.fingerprintDigest("crc32", params))
  }

  test("fieldLengths property: one-pass kernel == the Column-built FieldLengthValidator") {
    import spark.implicits._
    import graft.enrich.{Enrichment, FieldLengthValidator}
    val limits = Map("a" -> 3, "b" -> 5, "c" -> 1, "n" -> 2, "absent" -> 4)
    val str = Gen.oneOf(Gen.const(""), Gen.const("abc"), Gen.const("abcd"), Gen.const("üüü"),
      Gen.const("üüüü"), Gen.const("😀😀😀"), Gen.const("😀😀😀😀"), Gen.const("abcde"), Gen.const("ab😀de"),
      Gen.const("abcdef"), Gen.const("a\u0000c"), Gen.const("éée"), Gen.const("ééée"),
      Gen.listOf(Gen.oneOf("a", "ü", "😀", "€")).map(_.mkString))
    val gen = for {
      a <- Gen.option(str); b <- Gen.option(str); c <- Gen.option(str)
      n <- Gen.option(Gen.oneOf(7, 42, 123, -5, 100000))
    } yield (a, b, c, n)
    // exactly max chars of multibyte text, more than max bytes, in every field
    val crafted = Seq((Some("üüü"), Some("😀😀😀😀😀"), Some("é"), Some(99)),
      (Some("€€€"), Some("üüüüü"), Some("😀"), Some(-9)),
      (Some("€€€€"), Some("üüüüüü"), Some("😀😀"), Some(100)))
    val base = (crafted ++ sample(gen, 300) :+ ((None, None, None, None))).toDF("a", "b", "c", "n")
      .withColumn("z", lit("untouched"))
    val entity = struct(lit("earlier").as("enrichment"), lit("enrichment_failure").as("failure_type"),
      lit(null).cast("string").as("schema_key"), lit("prior failure").as("message"))
    val priors = Seq(
      "no errors column" -> base,
      "empty errors" -> base.withColumn("bad_row_errors", Enrichment.emptyFailures),
      "prior errors" -> base.withColumn("bad_row_errors",
        when(length(col("a")) === 3, array(entity).cast(Enrichment.FailureEntityType))
          .otherwise(Enrichment.emptyFailures)),
      "null errors" -> base.withColumn("bad_row_errors",
        when(col("c").isNull, lit(null).cast(Enrichment.FailureEntityType))
          .otherwise(Enrichment.emptyFailures)))
    for ((what, df) <- priors; truncate <- Seq(true, false)) {
      val v = FieldLengthValidator(limits, truncate)
      val (kernel, twin) = (v.apply(df), v.applySpec(df))
      assert(kernel.schema == twin.schema, s"$what, truncate=$truncate: schema")
      val (kRows, tRows) = (kernel.collect().toSeq, twin.collect().toSeq)
      assert(kRows == tRows, s"$what, truncate=$truncate")
      assert(kRows.exists(r => r.getSeq[Any](r.fieldIndex("bad_row_errors")) match {
        case null => false
        case errs => errs.size >= 2
      }), s"$what: the sample must flag several fields in one row")
    }
  }

  test("collectorTsv property: one-split kernel == the split / try_element_at twin") {
    import spark.implicits._
    import graft.sources.Sources
    val field = Gen.oneOf("", "1700000000000000", "-1", "1e3", " 17 ", "abc", "94.15.223.151",
      "Mozilla/5.0 (X11)", "ü😀", "e=pv&p=web", "\u0000", "\r", "a b")
    val gen = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, field)).map(_.mkString("\t"))
    val crafted = Seq("", "\t", "\t\t\t\t\t", "\t\t\t\t\t\t\t", "1\t2\t3\t4\t5\t6", "1\t2\t3\t4\t5\t6\t",
      "\t1\t2", "1\t\t\t\t\tq", "17\tü\t😀\tx\tpv\te=€", "1\r\n", "1\t2\n3", "9" * 25 + "\tx")
    val df = withMalformedUtf8((crafted ++ sample(gen, 300)).distinct.map(Option(_)).:+(None)
      .toDF("value"), "value", Seq("3109FF0933", "FF", "3109C3", "C30931", "313233093109EDA080"))
    val kernel = Sources.parseCollectorTsv(df)
    val twin = df.select(Sources.collectorTsvColsSpec(col("value")): _*)
    assert(kernel.schema == twin.schema)
    val (k, t) = (kernel.collect().toSeq, twin.collect().toSeq)
    assert(k.size == t.size)
    k.zip(t).foreach { case (a, b) => assert(a == b) }
  }

  // ---- static-dim lookup kernels against their broadcast-join twins ----

  private def dotted(v: Long): String = Seq(24, 16, 8, 0).map(s => (v >>> s) & 0xFF).mkString(".")

  /** IP keys around every range bound (`lo`, `hi`, `lo-1`, `hi+1`), random
    * addresses, and the malformed shapes the twin's pattern and casts
    * decide on. */
  private def ipKeys(bounds: Seq[(Long, Long)]): Seq[String] = {
    val edges = bounds.flatMap { case (lo, hi) => Seq(lo - 1, lo, hi, hi + 1) }
      .filter(v => v >= 0 && v <= 0xFFFFFFFFL).map(dotted)
    val random = sample(Gen.choose(0L, 0xFFFFFFFFL), 120).map(dotted)
    val malformed = Seq("0.0.0.0", "255.255.255.255", "256.1.1.1", "1.2.3", "1.2.3.4.5", "1.2.3.",
      ".1.2.3", " 1.2.3.4", "1.2.3.4 ", "1.2.3.4\t", "01.2.3.4", "1.2.3.04", "001.2.3.4", "1.2.3.099",
      "1.2.3.100", "1.2.3.255", "1.2.3.256", "1.2.3.1000", "１.２.３.４", "١.٢.٣.٤", "1.2.3.٤", "", ".", "...",
      "-1.2.3.4", "+1.2.3.4", "1..3.4", "1.2.3.4\n\n", "1.2.3.4\n\r", "1.2.3.4x", "a.b.c.d", "::ffff:1.2.3.4")
    edges ++ random ++ malformed ++ Terminators.map("1.2.3.4" + _) ++ NotTerminators.map("1.2.3.4" + _)
  }

  /** Rows of `stage(df)` and `twin(df)` by the `id` column, with schemas. */
  private def assertSameStage(df: org.apache.spark.sql.DataFrame,
      stage: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      twin: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
    val (k, t) = (stage(df), twin(df))
    assert(k.schema == t.schema, s"schema:\n${k.schema.treeString}\n${t.schema.treeString}")
    val (kRows, tRows) = (k.orderBy("id").collect().toSeq, t.orderBy("id").collect().toSeq)
    assert(kRows.size == df.count(), "one row out per event in")
    kRows.zip(tRows).foreach { case (a, b) => assert(a == b, s"kernel $a != twin $b") }
    assert(kRows.size == tRows.size)
    kRows
  }

  private def keyed(keys: Seq[String]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (keys.map(Option(_)) :+ None).zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "user_ipaddress")
  }

  test("ipGeo property: v4 + v6 range lookup == the broadcast range-join twin") {
    import graft.enrich.IpGeoLookup
    val v4 = Seq((0L, 255L, "ZERO"), (16909056L, 16909311L, "ONE"), (16909312L, 16909312L, "SINGLE"),
      (2147483648L, 2147483648L + (1L << 28), "WIDE"), (3000000000L, 3000000099L, null),
      (4294967040L, 4294967295L, "TOP"))
    val two63 = BigInt(1) << 63
    val top = (BigInt(1) << 64) - 1
    val v6 = Seq(("2001:db8:1:2", BigInt(0), two63 - 1, "LOW"), ("2001:db8:1:2", two63, two63 + 999, "MID"),
      ("2001:db8:1:2", top - 999, top, "TOPV6"), ("0:0:0:0", BigInt(0), BigInt(1) << 40, "ZEROV6"),
      ("2001:0db8:1:3", BigInt(0), top, "NONCANONICAL"))
    val v6Keys = Seq("2001:db8:1:2::1", "2001:db8:1:2::", "2001:db8:1:2:7fff:ffff:ffff:ffff",
      "2001:db8:1:2:8000::", "2001:db8:1:2:8000::3e7", "2001:db8:1:2:8000::3e8", "2001:db8:1:2:ffff:ffff:ffff:fc17",
      "2001:db8:1:2:ffff:ffff:ffff:fc18", "2001:db8:1:2:ffff:ffff:ffff:ffff", "2001:DB8:1:2::1",
      "2001:0db8:0001:0002::1", "2001:db8:1:2::1.2.3.4", "2001:db8:1:2:0:0:1.2.3.4", "::1.2.3.4", "::ffff:1.2.3.4",
      "::", "::1", ":::1", "1::2::3", "0:0:0:0:0:100:0:0", "0:0:0:0:0:100:0:1", "2001:db8:1:3::1",
      "2001:db8:1:2:0:0:0:1\n", "2001:db8:1:2::1\n", "::1.2.3.4\n", "2001:db8:1:2:0:0:0:1\u2028",
      "2001:db8:1:2:0:0:0:1\u2029", "2001:db8:1:2:0:0:0:1 ",
      "1:2:3:4:5:6:7:8:9", "2001:db8:1:2:0:0:0", "2001:db8:1:2:0:0:0:g",
      "2001:db8:1:2:00000::1", "2001:db8:1:2::1%eth0", "2001:db8:1:2::256.1.1.1", "[2001:db8:1:2::1]")
    val df = keyed(ipKeys(v4.map(r => (r._1, r._2))) ++ v6Keys)
    val stages = Seq(IpGeoLookup(v4), IpGeoLookup(v4, v6Ranges = v6))
    for (g <- stages) {
      val rows = assertSameStage(df, g.apply, g.applySpec)
      val hits = rows.flatMap(r => Option(r.getAs[String]("geo_country"))).toSet
      assert(Set("ZERO", "ONE", "SINGLE", "WIDE", "TOP").subsetOf(hits), s"hits: $hits")
      if (g.v6Ranges.nonEmpty) assert(Set("LOW", "MID", "TOPV6", "ZEROV6").subsetOf(hits), s"hits: $hits")
    }
    // a parquet dim: one collect, rows with a null bound dropped, a null
    // country kept as a hit that reads null
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("geo-dim").resolve("d").toString
    (v4.map { case (lo, hi, cc) => (Option(lo), Option(hi), cc) } :+ ((None, Some(5000L), "NULL_LO")))
      .toDF("lo", "hi", "cc").write.parquet(path)
    val fromPath = IpGeoLookup(Nil, rangesPath = path, countryField = "cc", v6Ranges = v6)
    assertSameStage(df, fromPath.apply, fromPath.applySpec)
  }

  test("ipAsn and ipSegment properties: range lookups == the broadcast range-join twins") {
    import graft.enrich.{IpAsnLookup, IpSegmentLookup}
    val asn = Seq((0L, 16777215L, 64496L, "ZeroNet"), (16777216L, 16777471L, 64497L, null),
      (3232235520L, 3232301055L, 64498L, "Private"), (4294967295L, 4294967295L, 64499L, "Last"))
    val isp = Seq((16909056L, 16909311L, "ISP-A"), (16909312L, 16909567L, null), (167772160L, 184549375L, "ISP-C"))
    val keys = ipKeys(asn.map(r => (r._1, r._2)) ++ isp.map(r => (r._1, r._2)))
    val df = keyed(keys ++ Seq("2001:db8::1", "::ffff:192.168.0.1"))
    val a = IpAsnLookup(asn)
    val rows = assertSameStage(df, a.apply, a.applySpec)
    val asnAt = rows.head.fieldIndex("ip_asn")
    assert(rows.filterNot(_.isNullAt(asnAt)).map(_.getLong(asnAt)).toSet == asn.map(_._3).toSet)
    for (seg <- Seq("isp", "domain", "connection")) {
      val s = IpSegmentLookup(seg, isp)
      val got = assertSameStage(df, s.apply, s.applySpec)
      assert(got.flatMap(r => Option(r.getAs[String](s.outCol))).toSet == Set("ISP-A", "ISP-C"))
    }
  }

  test("currency property: rate key lookup == the broadcast rates-join twin") {
    import spark.implicits._
    import graft.enrich.CurrencyConversion
    val rates = Seq(("EUR", 1080000L), ("USD", 1000000L), ("JPY", 6700L), ("GBP", 1270000L), ("ZERO", 0L))
    val currencies = rates.map(_._1) ++ Seq("eur", "Eur", "usd", "", " EUR", "EUR ", "EUR\n", "XXX", "€",
      "ＥＵＲ", "EU", "EURO")
    val amounts = Seq(Some(0L), Some(1250L), Some(-99L), Some(Long.MaxValue), Some(Long.MinValue),
      Some(Long.MaxValue / 1080000L), Some(Long.MaxValue / 1080000L + 1), None)
    val rows = for ((c, i) <- (currencies.map(Option(_)) :+ None).zipWithIndex; (a, j) <- amounts.zipWithIndex)
      yield ((i * amounts.size + j).toLong, a, c)
    val df = rows.toDF("id", "amount_cents", "currency")
    val cc = CurrencyConversion(rates)
    val got = assertSameStage(df, cc.apply, cc.applySpec)
    // both outcomes: converted, and null on a miss, a null amount or an overflow
    assert(got.exists(r => !r.isNullAt(r.fieldIndex("base_amount_e8"))))
    assert(got.count(r => r.isNullAt(r.fieldIndex("base_amount_e8"))) > amounts.size * 8)
    // a parquet rates dim
    val path = java.nio.file.Files.createTempDirectory("rates-dim").resolve("d").toString
    (rates.map { case (c, r) => (Option(c), Option(r)) } :+ ((None, Some(1L))) :+ ((Some("NULLRATE"), None)))
      .toDF("cur", "rate_micro").write.parquet(path)
    val fromPath = CurrencyConversion(Nil, ratesPath = path)
    assertSameStage(df.union(Seq((999L, Some(5L), Some("NULLRATE"))).toDF("id", "amount_cents", "currency")),
      fromPath.apply, fromPath.applySpec)
  }
}
