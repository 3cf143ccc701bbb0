package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.canon.{Canonicalize, Skew}
import graft.dedup.{MinHashLsh, SimHash}
import graft.extract.{Chunker, Segmenter}
import graft.io.Exports
import graft.model.Triple
import graft.rdf.Literals
import graft.text.{Fingerprint, LangId}

class OperatorsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("connected components merges linked clusters") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), // component a
      ("x", "y"), // component x
      ("p", "q"), ("q", "r"), ("r", "s")) // component p
      .toDF("src", "dst")
    val cc = Canonicalize.connectedComponents(edges)
      .as[(String, String)].collect().toMap
    assert(cc("c") == "a" && cc("b") == "a" && cc("a") == "a")
    assert(cc("y") == "x")
    assert(Set("p", "q", "r", "s").map(cc) == Set("p"))
  }

  test("canonicalize rewrites aliased URIs to one representative") {
    import spark.implicits._
    val triples = Seq(
      Triple("d1", "http://x/A", true, "F", "R", "has_theme", "http://x/B", true),
      Triple("d1", "http://x/A2", true, "F", "R", "has_theme", "lit", false))
      .toDS()
    val mentionUri = Seq(("alpha", "http://x/A"), ("alpha", "http://x/A2"))
      .toDF("mention", "uri")
    val out = Canonicalize.canonicalize(triples, mentionUri).collect()
    assert(out.forall(t => t.subj == "http://x/A")) // A2 rewritten to min(A,A2)
    assert(out.length == 2)
  }

  test("connected components: reliable-checkpoint path matches localCheckpoint") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"))
      .toDF("src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    // localMaxEdges = 0 forces the ITERATIVE machinery (a graph this
    // small otherwise takes the driver-local union-find fast path)
    val local = Canonicalize.connectedComponents(edges, 20, None, 2,
        encodeMinEdges = 1000000L, encodeMinBytesPerName = 16.0,
        localMaxEdges = 0L)
      .as[(String, String)].collect().toSet
    val reliable = Canonicalize.connectedComponents(edges, 20, Some(dir), 2,
        encodeMinEdges = 1000000L, encodeMinBytesPerName = 16.0,
        localMaxEdges = 0L)
      .as[(String, String)].collect().toSet
    assert(reliable == local)
    // ... and the driver-local union-find fast path (the default for
    // bounded graphs) agrees exactly with the iterative result
    val viaLocal = Canonicalize.connectedComponents(edges)
      .as[(String, String)].collect().toSet
    assert(viaLocal == local, "local union-find diverged from iterative CC")
    // the reliable path actually wrote checkpoint data
    assert(new java.io.File(dir).listFiles().nonEmpty)
    // ... and per-round GC kept only the LIVE snapshots: ownership
    // tracking (LogicalRDD → rdd.getCheckpointFile) must both find the
    // rdd-* dirs (else nothing is ever deleted and maxIter copies
    // accumulate) and delete superseded rounds (≤4 live dfs remain)
    val rddDirs = new java.io.File(dir).listFiles().toSeq
      .flatMap(u => Option(u.listFiles()).map(_.toSeq).getOrElse(Nil))
      .filter(f => f.isDirectory && f.getName.startsWith("rdd-"))
    assert(rddDirs.nonEmpty && rddDirs.size <= 4,
      s"expected 1..4 live checkpoint dirs after GC, found ${rddDirs.size}")
    // a checkpoint dir on a graph under localMaxEdges: solved locally,
    // same labels, nothing written under the dir
    val unused = java.nio.file.Files.createTempDirectory("cc_ckpt_small").toFile
    val viaLocalCkpt = Canonicalize.connectedComponents(edges, checkpointDir = Some(unused.toString))
      .as[(String, String)].collect().toSet
    assert(viaLocalCkpt == local)
    assert(unused.listFiles().isEmpty, s"files under $unused: ${unused.listFiles().toSeq}")
    // an edge plan the optimizer sizes at ~1 row (one exploded array) but
    // holding 20 edges: the bounded pull overflows localMaxEdges = 8 and
    // the distributed path takes over with the same labels
    val chained = Seq(Seq.tabulate(10)(i => (s"c$i", s"c${i + 1}")) ++
        Seq.tabulate(10)(i => (s"d$i", s"d${i + 1}")))
      .toDF("es").select(org.apache.spark.sql.functions.explode($"es").as("e"))
      .select($"e._1".as("src"), $"e._2".as("dst"))
    val overflowDir = java.nio.file.Files.createTempDirectory("cc_ckpt_overflow").toFile
    val overflowed = Canonicalize.connectedComponents(chained, 20, Some(overflowDir.toString), 2,
        encodeMinEdges = 1000000L, encodeMinBytesPerName = 16.0, localMaxEdges = 8L)
      .as[(String, String)].collect().toSet
    assert(overflowed == Canonicalize.connectedComponents(chained)
      .as[(String, String)].collect().toSet)
    assert(overflowed.map(_._2) == Set("c0", "d0"))
    assert(overflowDir.listFiles().nonEmpty, "overflow did not reach the distributed path")
  }

  test("rewrite: shuffle-join path (no broadcast) matches the broadcast path") {
    import spark.implicits._
    val triples = Seq(
      Triple("d1", "http://x/A2", true, "F", "R", "has_theme", "http://x/B", true),
      Triple("d1", "http://x/C", true, "F", "R", "has_theme", "http://x/A2", true))
      .toDS()
    val mapping = Seq(("http://x/A2", "http://x/A")).toDF("node", "component")
    val viaBroadcast = Canonicalize
      .rewrite(triples, org.apache.spark.sql.functions.broadcast(mapping))
      .collect().toSet
    val viaShuffle = {
      // force the shuffled path by disabling both static and AQE broadcast
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try Canonicalize.rewrite(triples, mapping).collect().toSet
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    assert(viaShuffle == viaBroadcast)
    assert(viaShuffle.forall(t => t.subj != "http://x/A2" && t.obj != "http://x/A2"))
  }

  test("upsertDocs is idempotent and replaces per-document triples in place") {
    import spark.implicits._
    import graft.io.TripleStore
    val store = java.nio.file.Files.createTempDirectory("upsert").toString
    val gen1 = Seq(
      Triple("u1", "http://x/A", true, "F", "R", "has_theme", "old", false),
      Triple("u2", "http://x/B", true, "F", "R", "has_theme", "keep", false)).toDS()
    TripleStore.upsertDocs(gen1, store, units = 4)
    // replay of the same batch (streaming checkpoint recovery) converges
    TripleStore.upsertDocs(gen1, store, units = 4)
    def rows() = spark.read.parquet(s"$store/data")
      .select("docId", "obj").as[(String, String)].collect().toSet
    assert(rows() == Set(("u1", "old"), ("u2", "keep")))
    // recrawl of u1 replaces its triples; u2 untouched
    val gen2 = Seq(
      Triple("u1", "http://x/A", true, "F", "R", "has_theme", "new", false)).toDS()
    TripleStore.upsertDocs(gen2, store, units = 4)
    assert(rows() == Set(("u1", "new"), ("u2", "keep")))
  }

  test("upsertDocs staging holds only the current batch's units, conf untouched") {
    import spark.implicits._
    import graft.io.TripleStore
    val store = java.nio.file.Files.createTempDirectory("upsert_stage").toString
    val overwriteModeBefore =
      spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    // find two docIds hashing to different units
    val ids = (1 to 50).map(i => s"doc$i")
    val unitOf = ids.map { id =>
      id -> spark.range(1).select(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.lit(id)),
          org.apache.spark.sql.functions.lit(4)).cast("int")).as[Int].head()
    }.toMap
    val (dA, dB) = {
      val a = ids.head
      (a, ids.find(b => unitOf(b) != unitOf(a)).get)
    }
    def one(d: String, v: String) =
      Seq(Triple(d, "http://x/A", true, "F", "R", "has_theme", v, false)).toDS()
    val u1 = TripleStore.upsertDocs(one(dA, "a1"), store, units = 4)
    val u2 = TripleStore.upsertDocs(one(dB, "b1"), store, units = 4)
    assert(u1 != u2)
    // the round-2 bug: staging accumulated unit partitions across batches,
    // so batch 2's second hop rewrote (and could silently revert) batch
    // 1's units. Staging must now hold ONLY batch 2's unit.
    val stagingUnits = spark.read.parquet(s"$store/_staging")
      .select("unit").distinct().as[Int].collect().toSet
    assert(stagingUnits == u2.toSet, s"staging leaked units: $stagingUnits vs $u2")
    // both docs present in main
    val docs = spark.read.parquet(s"$store/data")
      .select("docId").distinct().as[String].collect().toSet
    assert(docs == Set(dA, dB))
    // the writer-scoped overwrite mode did not mutate the session conf
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
      == overwriteModeBefore)
  }

  test("salted aggregation equals direct aggregation") {
    import spark.implicits._
    val df = Seq.tabulate(1000)(i => (i % 7, i.toDouble)).toDF("k", "v")
    val direct = df.groupBy("k").count().as[(Int, Long)].collect().toMap
    val salted = Skew.saltedCount(df, "k").as[(Int, Long)].collect().toMap
    assert(salted == direct)
  }

  test("exports produce the reference shapes (re-parse semantics)") {
    import spark.implicits._
    val ts = Seq(
      Triple("d", "http://en.wikipedia.org/wiki/X", true, "Being_born", "Child", "has_person", "Y Z", false),
      Triple("d", "literal subj", false, "Death", "Time", "has_time", "1956", false)).toDS()
    val ttl = Exports.customTtl(ts).as[String].collect().toSet
    assert(ttl("http://en.wikipedia.org/wiki/X Being_born:has_person Y Z"))
    assert(ttl("literal subj Death:has_time 1956"))
    // every sink below inherits the reference's checkpoint RE-PARSE
    // (batch_pipeline.py:462-507): the multi-word literal subject
    // "literal subj" degenerates to subject "literal" and predicate "subj"
    // — reproduced deliberately (QueryableTtlParitySpec gates this
    // behavior golden-exact against the reference's own outputs)
    val qttl = Exports.queryableTtl(ts).as[String].collect().toSet
    assert(qttl("""<http://en.wikipedia.org/wiki/X> <Being_born:has_person> "Y Z" ."""))
    assert(qttl("""<literal> <subj> "Death:has_time 1956" ."""))
    val edges = Exports.edgesCsv(ts)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(edges == Set(
      ("http://en.wikipedia.org/wiki/X", "Y Z", "has person", "Being_born"),
      ("literal", "Death:has_time 1956", "subj", "subj")))
    val hist = Exports.predicateHistogram(ts).as[(String, Long)].collect().toMap
    assert(hist == Map("Being_born:has_person" -> 1L, "subj" -> 1L))
    assert(Exports.entityIndex(ts).count() == 4)
  }

  test("pages round-trip the JSON-lines source adapter byte-exactly") {
    import graft.sources.PageSources
    val dir = java.nio.file.Files.createTempDirectory("pages_jsonl").toString
    val pages = graft.pipeline.SynthCorpus.pages(spark, 25, seed = 11L)
    PageSources.writeJsonl(pages, dir)
    val back = PageSources.jsonl(spark, dir).collect()
      .map(p => (p.url, p.warc_ts.getTime, p.html.toSeq, p.text, p.lang)).toSet
    val orig = pages.collect()
      .map(p => (p.url, p.warc_ts.getTime, p.html.toSeq, p.text, p.lang)).toSet
    assert(back == orig)
  }

  test("DataFrame sink columns equal the scalar reference functions corpus-wide") {
    import spark.implicits._
    // the Column-expression paths (queryableTtl, edgesCsv) must agree with
    // the golden-gated scalar functions on every triple of a real corpus,
    // not just the two shapes the unit test pins
    val triples = graft.pipeline.Pipeline.triples(
      graft.pipeline.SynthCorpus.pages(spark, 40)).cache()
    val parsed = triples.collect().toVector
      .flatMap(t => Exports.parseCustomTtlLine(t.ttlLine))
    val viaDf = Exports.queryableTtl(triples).as[String].collect().toSet
    val viaFn = parsed
      .map { case (s, p, o) => Exports.queryableLineFromParsed(s, p, o) }.toSet
    assert(viaDf == viaFn)
    val edgesDf = Exports.edgesCsv(triples)
      .as[(String, String, String, String)].collect().toSet
    def cleanNode(n0: String): String = {
      val n = n0.replaceAll("^[\"']+|[\"']+$", "")
      if (n.startsWith("http://") || n.startsWith("https://")) n
      else n.replaceAll("[<>{}\\[\\]()]", "")
    }
    val edgesFn = parsed.map { case (s, p, o) =>
      val base = if (p.contains(":")) p.substring(p.lastIndexOf(':') + 1) else p
      val label0 = base.replace("_", " ").replace("#", "")
      val label = if (label0.length > 20) label0.take(17) + "..." else label0
      val frame = if (p.contains(":")) p.split(":")(0) else p
      (cleanNode(s), cleanNode(o), label, frame)
    }.toSet
    assert(edgesDf == edgesFn)
    triples.unpersist()
  }

  test("F12 categorization mirrors the reference keyword cascades") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      // subject keyword → people wins over later families (check order)
      ("http://x/Agatha_Christie", "Being_born:has_time", "1890"),
      ("http://x/Torquay", "loc:has_name", "a place"),
      ("http://x/Thing", "Death:death_of", "someone"),
      ("http://x/Thing", "has:theme", "a mystery novel"),
      ("http://x/Thing", "has:theme", "nothing special"))
      .toDF("s", "p", "o")
    val cats = rows.select(
      Exports.tripleCategory(col("s"), col("p"), col("o")).as("c"))
      .as[String].collect().toVector
    assert(cats == Vector("people_related", "location_related", "event_related",
      "concept_related", "other"))
    val nodes = Seq("Agatha Christie", "Torquay Harbour", "died 1976",
      "a mystery tale", "plain").toDF("n")
    val ncats = nodes.select(Exports.nodeCategory(col("n")).as("c"))
      .as[String].collect().toVector
    assert(ncats == Vector("people", "locations", "events", "concepts", "other"))
  }

  test("J3 fuzzy eval join: first match wins, containment both ways, defaults") {
    import spark.implicits._
    val ts = Seq(
      Triple("d1", "http://x/A", true, "F", "R", "has_theme", "Some Theme", false),
      Triple("d1", "http://x/B", true, "G", "R", "has_agent", "Agent B", false),
      Triple("d2", "http://x/C", true, "H", "R", "has_time", "1901", false)).toDS()
    val evals = Seq(
      // idx 1 and 2 both contain the d1/A line (lowercased) — idx 1 wins
      Exports.EvalRow("d1", 1L, "pad http://x/a f:has_theme some theme pad", 0.7, "s1", true),
      Exports.EvalRow("d1", 2L, "http://x/A F:has_theme Some Theme", 0.2, "s2", true),
      // substring of the d1/B line → eval ⊂ line containment
      Exports.EvalRow("d1", 3L, "g:has_agent agent b", 0.4, "s3", true),
      // non-match noise
      Exports.EvalRow("d1", 4L, "zz nothing here at all", 0.1, "s4", true)).toDS()
    val out = Exports.enrichedTriples(ts, evals)
      .collect().map(r => (r.getString(1), r.getDouble(4), r.getString(5), r.getBoolean(6)))
      .toSet
    assert(out == Set(
      ("http://x/A", 0.7, "s1", true), // first match by idx, not best match
      ("http://x/B", 0.4, "s3", true),
      ("http://x/C", 0.9, "Unknown", true))) // doc without evals → defaults
  }

  test("sameAs edges skip genuinely ambiguous surfaces") {
    import spark.implicits._
    val mentionUri = Seq(
      ("Chinese", "http://x/China"), ("chinese", "http://x/Chinese_language"),
      ("Alpha", "http://x/A"), ("alpha", "http://x/A2")).toDF("mention", "uri")
    val edges = Canonicalize.sameAsEdges(mentionUri, Set("chinese"))
      .as[(String, String)].collect().toSet
    assert(edges == Set(("http://x/A2", "http://x/A")))
    // the default exclusion list is the disambiguator's candidate dict
    assert(Canonicalize.defaultAmbiguousSurfaces.nonEmpty)
  }

  test("connected components throws instead of returning unconverged labels") {
    import spark.implicits._
    val chain = Seq.tabulate(40)(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    // the convergence contract belongs to the ITERATIVE machinery —
    // force it (the driver-local fast path always converges)
    intercept[IllegalStateException] {
      Canonicalize.connectedComponents(chain, 2, None, 2,
        encodeMinEdges = 1000000L, encodeMinBytesPerName = 16.0,
        localMaxEdges = 0L)
    }
    // pointer jumping converges the 41-node chain well inside the cap
    val cc = Canonicalize.connectedComponents(chain)
      .as[(String, String)].collect()
    assert(cc.map(_._2).distinct.toSeq == Seq("n0"))
  }

  test("F3 truncation matches reduce_author_contents semantics") {
    import graft.text.Truncate.toSentenceBoundary
    assert(toSentenceBoundary("short text.", 100) == "short text.")
    // boundary past 80% of the limit → cut at the sentence end
    val s1 = ("x" * 90) + ". tail that goes on and on"
    assert(toSentenceBoundary(s1, 100) == ("x" * 90) + ".")
    // boundary too early (≤80%) → hard cut + ellipsis
    val s2 = ("y" * 50) + ". " + "z" * 100
    assert(toSentenceBoundary(s2, 100) == s2.take(97) + "...")
    // exactly at 80% is NOT enough (strict >), one past is
    val s3 = ("a" * 80) + "." + "b" * 100
    assert(toSentenceBoundary(s3, 100) == s3.take(97) + "...")
    val s3b = ("a" * 81) + "." + "b" * 100
    assert(toSentenceBoundary(s3b, 100) == ("a" * 81) + ".")
    // '!' and '?' count as sentence ends
    val s4 = ("q" * 89) + "? tail tail tail tail"
    assert(toSentenceBoundary(s4, 100) == ("q" * 89) + "?")
  }

  test("frame-mapping tables checksum matches the transcription source") {
    import graft.rdf.FrameMappings
    // every row of both reference tables, order-independent content hash
    // (comprehensive_frame_mappings.py:11-296). Guards accidental edits of
    // the generated tables.
    val fsLines = FrameMappings.frameSpecific.toSeq.flatMap { case (f, m) =>
      m.toSeq.map { case (r, p) => s"$f\t$r\t$p" }
    }.sorted
    val gLines = FrameMappings.generic.toSeq.map { case (r, p) => s"$r\t$p" }.sorted
    assert(FrameMappings.frameSpecific.size == 96)
    assert(FrameMappings.generic.size == 307)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest((fsLines ++ gLines).mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(FrameMappings.predicateForRole("Unknown_role", "Unknown_frame") == "has_theme")
    assert(FrameMappings.predicateForRole("Child", "Being_born") == "has_person")
    assert(FrameMappings.predicateForRole("Agent", "Unknown_frame") == "has_agent")
    // digest computed from the reference tables themselves (mining script)
    assert(digest == "01206a1fc87227afd4e772099a5d2df3", s"mapping digest drifted: $digest")
  }

  test("coref resolver mirrors the reference's strategy chain") {
    import graft.model.CtxEntity
    import graft.rdf.Coref
    val ctx = Vector(
      CtxEntity("Audre Lorde", "http://x/Audre_Lorde", 0.4), // contains "dr"
      CtxEntity("Marie Curie", "http://x/Marie_Curie", 0.9))
    // protagonist prior wins for personal pronouns
    assert(Coref.resolve("he", ctx, "He wrote.", Some("http://x/P")) ==
      Some("http://x/P"))
    // without protagonist: title-indicator substring matching fires —
    // "Audre" contains "dr" (reference quirk, rdfify_improved.py:59)
    assert(Coref.resolve("he", ctx, "He wrote.", None) == Some("Audre Lorde"))
    // non-personal pronoun: context heuristics — entity before pronoun wins
    assert(Coref.resolve("it", ctx, "Marie Curie discovered it.", None) ==
      Some("Marie Curie"))
    // no context at all
    assert(Coref.resolve("they", Vector.empty, "They left.", None).isEmpty)
  }

  test("html extractor is robust to malformed and minimal input") {
    import graft.extract.HtmlText
    // no mw-parser-output → body fallback
    assert(HtmlText.extract("<html><body><p>Hello world.</p></body></html>") ==
      "Hello world.")
    // no body at all → whole document text
    assert(HtmlText.extract("<p>Plain fragment</p>") == "Plain fragment")
    // unclosed tags, stray close tags, comments, entities
    assert(HtmlText.extract(
      "<body><p>a &amp; b <b>bold</i> tail<!-- note --></p>more</body>") ==
      "a & b bold tail more")
    // script/style content never leaks
    assert(HtmlText.extract(
      "<body><style>p{color:red}</style><script>var x=1;</script><p>ok</p></body>") ==
      "ok")
    // empty and garbage inputs do not throw
    assert(HtmlText.extract("") == "")
    assert(HtmlText.extract("<<<>>><tag") != null)
  }

  test("typed literal dispatch preserves the gYear-before-integer order") {
    assert(Literals.xsdTypeOf("1956") == "gYear")
    assert(Literals.xsdTypeOf("195") == "integer")
    assert(Literals.xsdTypeOf("19561") == "integer")
    assert(Literals.xsdTypeOf("1956-01-02") == "date")
    assert(Literals.xsdTypeOf("3.14") == "decimal")
    assert(Literals.xsdTypeOf("True") == "boolean")
    assert(Literals.xsdTypeOf("hello 42") == "string")
  }

  test("minhash-lsh buckets exact duplicates and near-duplicates together") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val nearA = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val other = "completely different words appear in this unrelated sentence about spark"
    val ba = MinHashLsh.bandRows(1, a).map(r => (r.band, r.band_hash)).toSet
    val bn = MinHashLsh.bandRows(2, nearA).map(r => (r.band, r.band_hash)).toSet
    val bo = MinHashLsh.bandRows(3, other).map(r => (r.band, r.band_hash)).toSet
    assert((ba & bn).nonEmpty, "near-dups share at least one band")
    assert((ba & bo).isEmpty, "unrelated docs share no band")
    assert(MinHashLsh.jaccard(a, a) == 1.0)
    assert(MinHashLsh.jaccard(a, nearA) > 0.5)
  }

  test("near-duplicate detection finds planted near-dups, no false pairs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    val near = base.replace("today", "tomorrow")
    val docs = (Seq((0L, base), (1L, near), (2L, base)) ++
      (3L to 40L).map(i => (i, s"completely distinct document number $i about " +
        s"topic${i} and subject${i * 7} with unique words like word${i * 13}")))
      .toDS()
    val pairs = graft.dedup.MinHashLsh.nearDuplicatePairs(docs, threshold = 0.5)
      .collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((0L, 2L)), s"exact dup missed: $pairs")
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 2L)), s"near dup missed: $pairs")
    assert(pairs.forall { case (a, b) => a <= 2 && b <= 2 }, s"false pairs: $pairs")
  }

  test("URL canonicalization: ports, fragments, utm params, sorting, passthrough") {
    import graft.canon.UrlNorm.canonical
    assert(canonical("HTTP://ExAmple.COM:80/Path?utm_source=x&b=2&a=1#frag")
      == "http://example.com/Path?a=1&b=2")
    assert(canonical("https://Host.org:443/") == "https://host.org/")
    // non-default port survives; https keeps :80
    assert(canonical("https://h.org:80/x") == "https://h.org:80/x")
    assert(canonical("http://h.org:8080/x") == "http://h.org:8080/x")
    // empty path -> "/"; all-utm query drops its '?'
    assert(canonical("http://h.org?utm_medium=a&UTM_source=b") == "http://h.org/")
    // no scheme/shape -> unchanged (garbage passthrough)
    assert(canonical("not a url at all") == "not a url at all")
    assert(canonical("mailto:x@y.z") == "mailto:x@y.z")
    // idempotence
    val c = canonical("HTTP://A.B:80/p?z=1&a=2#f")
    assert(canonical(c) == c)
  }

  test("NFC normalize composes accents, strips controls, keeps tab/newline") {
    import graft.text.Normalize
    val decomposed = "cafe\u0301 nai\u0308ve" // combining marks
    val composed = "caf\u00e9 na\u00efve" // precomposed
    assert(decomposed != composed)
    assert(Normalize.clean(decomposed) == composed)
    // tab and newline are content structure and survive; \r and BEL fold away
    assert(Normalize.clean("a\tb\nc\rd\u0007e") == "a\tb\ncde")
    // already-clean text is unchanged (idempotence)
    assert(Normalize.clean(composed) == composed)
  }

  test("line dedup drops cross-doc boilerplate, keeps unique and blank lines") {
    import spark.implicits._
    val footer = "  COOKIE BANNER  "
    val docs = Seq(
      (1L, s"alpha one\n$footer\n\nbody of doc one"),
      (2L, s"beta two\n$footer\nbody of doc two"),
      (3L, "gamma three\nno shared content here")).toDS()
    val out = graft.dedup.LineDedup.dropBoilerplate(docs, minDocs = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // the footer (trim-keyed, so differing edge whitespace still
    // matches) is dropped from both docs; blank line survives
    assert(out(1L) == ((1L, 4L, 1L, "alpha one\n\nbody of doc one")))
    assert(out(2L) == ((2L, 3L, 1L, "beta two\nbody of doc two")))
    assert(out(3L) == ((3L, 2L, 0L, "gamma three\nno shared content here")))
    // a doc that is ALL boilerplate ends up empty, not missing
    val docs2 = Seq((1L, "same"), (2L, "same"), (3L, "same")).toDS()
    val all = graft.dedup.LineDedup.dropBoilerplate(docs2, minDocs = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(all.forall(r => r._2 == 1L && r._3 == 1L && r._4 == ""))
  }

  test("sequence packing matches the naive cumsum incl. empty docs and partition seams") {
    import spark.implicits._
    // doc lengths chosen so spans straddle chunk boundaries; ids sparse
    // (range-bucket arithmetic must not assume dense ids); two empty docs
    val docs = (0 until 200).map { i =>
      val id = i.toLong * 7 + 3
      val n = if (i % 31 == 0) 0 else (i * 13) % 97 + 1
      (id, Seq.fill(n)("tok").mkString(" "))
    }
    val out = graft.pipeline.Pack
      .concatChunks(docs.toDS(), chunkTokens = 64, partitions = 8)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // naive ground truth
    var cum = 0L
    val expected = docs.sortBy(_._1).map { case (id, text) =>
      val n = graft.util.PyStr.split(text).length.toLong
      val start = cum; cum += n
      val first = if (n == 0) -1L else start / 64
      val last = if (n == 0) -1L else (start + n - 1) / 64
      (id, n, start, first, last)
    }
    assert(out.toSeq == expected,
      s"pack mismatch: ${out.toSeq.diff(expected).take(5)}")
    // chunk-range sanity: consecutive non-empty docs tile the token line
    val nonEmpty = expected.filter(_._2 > 0)
    nonEmpty.sliding(2).foreach {
      case Seq(a, b) => assert(a._3 + a._2 <= b._3)
      case _ =>
    }
  }

  test("sequence packing stays correct on a pathologically sparse id space") {
    import spark.implicits._
    // monotonically_increasing_id-style ids: partition index in the high
    // bits, so the value range is astronomically sparse — the density
    // guard warns, but spans must still be exact
    val docs = (0 until 60).map { i =>
      val id = ((i / 20).toLong << 33) | (i % 20).toLong
      (id, Seq.fill(i % 7 + 1)("tok").mkString(" "))
    }
    val out = graft.pipeline.Pack
      .concatChunks(docs.toDS(), chunkTokens = 16, partitions = 8)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    var cum = 0L
    val expected = docs.sortBy(_._1).map { case (id, text) =>
      val n = graft.util.PyStr.split(text).length.toLong
      val start = cum; cum += n
      (id, n, start, start / 16, (start + n - 1) / 16)
    }
    assert(out.toSeq == expected)
  }

  test("mix sampling is deterministic, content-keyed, and rate-respecting") {
    import spark.implicits._
    import graft.pipeline.Mix
    val docs = (0L until 3000L).map { i =>
      val stratum = Seq("web", "books", "code")((i % 3).toInt)
      (i, stratum, s"document body number $i with content ${i * 31}")
    }.toDS()
    val rates = Map("web" -> 0.5, "books" -> 0.9, "code" -> 0.1)
    val a = Mix.sampleByStratum(docs, rates).collect().sortBy(_.doc_id)
    val b = Mix.sampleByStratum(docs, rates).collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq, "sampling not deterministic")
    // per-stratum keep fraction within binomial noise of its rate
    rates.foreach { case (st, r) =>
      val grp = a.filter(_.stratum == st)
      val frac = grp.count(_.kept).toDouble / grp.length
      assert(math.abs(frac - r) < 0.05, f"$st: kept $frac%.3f vs rate $r")
    }
    // clone classes share one fate (content-keyed decision)
    val clones = Seq((1L, "web", "same text"), (2L, "web", "same text")).toDS()
    val cs = Mix.sampleByStratum(clones, rates).collect()
    assert(cs.map(_.kept).distinct.length == 1 &&
      cs.map(_.u).distinct.length == 1)
    // rate 0 / 1 edges
    val edge = Mix.sampleByStratum(docs, Map("web" -> 0.0, "books" -> 1.0,
      "code" -> 0.0)).collect()
    assert(edge.filter(_.stratum == "web").forall(!_.kept))
    assert(edge.filter(_.stratum == "books").forall(_.kept))
  }

  test("decontamination flags planted 13-gram overlap, both paths agree") {
    import spark.implicits._
    import graft.dedup.Decontaminate
    val secret = (1 to 15).map(i => s"evaltok$i").mkString(" ") // 15 tokens
    val docs = Seq(
      (0L, s"clean preamble then $secret and a clean tail of words"),
      (1L, "a completely clean document with plenty of ordinary tokens " +
        "that never quote any benchmark material at all in any window"),
      (2L, secret), // the eval item verbatim
      (3L, (1 to 12).map(i => s"evaltok$i").mkString(" ")), // only 12 tokens — no 13-gram
      (4L, "short doc")).toDS()
    val bench = Seq(secret, "another benchmark question with its own answer text " +
      "padded out to well over thirteen whitespace tokens total here").toDS()
    val broad = Decontaminate.overlapBroadcast(
      docs, Decontaminate.benchmarkGramArray(bench, 13), 13)
      .as[(Long, Int, Boolean)].collect().sortBy(_._1)
    val joined = Decontaminate.overlapJoin(docs, bench, 13)
      .as[(Long, Int, Boolean)].collect().sortBy(_._1)
    assert(broad.toSeq == joined.toSeq, "broadcast and join paths disagree")
    val byId = broad.map(r => r._1 -> r).toMap
    // doc 0 embeds the 15-token eval item → 3 distinct 13-grams hit
    assert(byId(0L) == ((0L, 3, true)), s"got ${byId(0L)}")
    assert(!byId(1L)._3 && byId(1L)._2 == 0)
    assert(byId(2L) == ((2L, 3, true)))
    // a 12-token prefix cannot contain any 13-gram
    assert(byId(3L) == ((3L, 0, false)))
    assert(byId(4L) == ((4L, 0, false)))
    // auto path picks broadcast here and matches
    val auto = Decontaminate.ngramOverlap(docs, bench, 13)
      .as[(Long, Int, Boolean)].collect().sortBy(_._1)
    assert(auto.toSeq == broad.toSeq)
  }

  test("curateDecontaminated cascade names 'contaminated' in verdict order") {
    import spark.implicits._
    val secret = (1 to 20).map(i => s"benchword$i").mkString(" ")
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "walks along the river bank for a while at dusk in the calm evening"
    val docs = Seq(
      (0L, good), // kept
      (1L, good), // exact dup of 0 → duplicate
      (2L, s"$good $secret"), // contaminated (passes lang/quality/rep)
      (3L, "der die das und in den von zu mit sich des auf für ist im " +
        "dem nicht ein eine als auch es an werden aus er hat dass sie")) // lang
      .toDS()
    val grams = graft.dedup.Decontaminate.benchmarkGramArray(
      Seq(secret).toDS(), 13)
    val out = graft.pipeline.Curate.curateDecontaminated(docs, grams)
      .select("doc_id", "verdict", "kept")
      .as[(Long, String, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(0L) == (("kept", true)))
    assert(out(1L) == (("duplicate", false)))
    assert(out(2L) == (("contaminated", false)), s"got ${out(2L)}")
    assert(out(3L) == (("lang", false)))
  }

  test("concurrent near-dup calls cannot disturb each other; scopes release caches") {
    import spark.implicits._
    // two disjoint corpora with planted clone pairs, run CONCURRENTLY —
    // with the old JVM-global cache slot, one call could unpersist the
    // other's intermediates mid-flight; caller-owned CacheScope makes
    // the calls fully independent
    def corpus(off: Long) = ((0L to 30L).map(i =>
      (off + i, s"doc ${off + i} unique filler content alpha beta gamma " +
        s"delta${i * 3} epsilon${i * 7}")) ++
      Seq((off + 100L, "planted duplicate text mirrored verbatim body"),
        (off + 101L, "planted duplicate text mirrored verbatim body"))).toDS()
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val scopeA = new graft.util.CacheScope
    val scopeB = new graft.util.CacheScope
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(MinHashLsh.nearDuplicatePairs(
      corpus(0L), threshold = 0.5, scope = scopeA).collect())
    val fb = Future(MinHashLsh.nearDuplicatePairs(
      corpus(1000L), threshold = 0.5, scope = scopeB).collect())
    val (ra, rb) = (Await.result(fa, 5.minutes), Await.result(fb, 5.minutes))
    assert(ra.map(p => (p._1, p._2)).toSet == Set((100L, 101L)))
    assert(rb.map(p => (p._1, p._2)).toSet == Set((1100L, 1101L)))
    // closing the scopes releases every cached intermediate this test
    // added (tests run sequentially in the forked JVM, so the persistent
    // RDD delta is attributable to these two calls)
    scopeA.close(); scopeB.close()
    val cachedAfter = spark.sparkContext.getPersistentRDDs.keySet
    assert((cachedAfter -- cachedBefore).isEmpty,
      "cached intermediates leaked past scope close")
  }

  test("near-dup survives a 1k-clone boilerplate corpus (no text pair-shipping)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val boiler = ("the same boilerplate footer page content mirrored " +
      "across many hosts with identical wording throughout ") * 3
    val alt = boiler.replace("identical wording", "slightly altered wording")
    val far = "completely different text about unrelated topics entirely " * 4
    val docs = ((0 until 1000).map(i => (i.toLong, boiler)) ++
      Seq((2000L, alt), (3000L, far))).toDS()
    val pairs = MinHashLsh.nearDuplicatePairs(docs, threshold = 0.5)
      .toDF("a", "b", "j").cache()
    // 1000 identical docs → C(1000,2) clone pairs at jaccard 1.0 — output
    // size is inherent; the point is the job completes without one task
    // holding 1000 texts × 499500 pairs
    assert(pairs.filter(col("j") === 1.0).count() == 499500L)
    // the altered doc pairs with every clone through the representative
    val altPairs = pairs.filter(col("b") === 2000L)
    assert(altPairs.count() == 1000L)
    val j = altPairs.select("j").as[Double].head()
    assert(j >= 0.5 && j < 1.0, s"altered-doc jaccard $j out of range")
    // the unrelated doc pairs with nothing
    assert(pairs.filter(col("a") === 3000L || col("b") === 3000L).count() == 0)
    pairs.unpersist()
  }

  test("blocked clone-pair enumeration: exact pair set, bounded per join key") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one 100-member clone group + one 3-member group + a singleton
    val groups = ((0L until 100L).map(i => (i, 0L)) ++
      Seq((200L, 200L), (201L, 200L), (202L, 200L), (300L, 300L)))
      .toDF("id", "rep")
    val blockSize = 16
    val pairs = MinHashLsh.clonePairsBlocked(groups, blockSize)
      .collect().map(p => (p._1, p._2)).toSet
    val expected = ((for {
      i <- 0L until 100L; j <- (i + 1) until 100L
    } yield (i, j)) ++ Seq((200L, 201L), (200L, 202L), (201L, 202L))).toSet
    assert(pairs == expected)
    // boundedness: no (rep, bi, bj) join key sees more than blockSize rows
    // per side, so no task's working set or output is a function of the
    // full clone-group size (the round-2 scale-killer)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("rep").orderBy("id")
    val ranked = groups.select(col("id"), col("rep"),
      ((row_number().over(w) - 1) / blockSize).cast("int").as("blk"))
    val maxPerBlock = ranked.groupBy("rep", "blk").count()
      .agg(max("count")).as[Long].head()
    assert(maxPerBlock <= blockSize)
  }

  test("simhash hamming pairs: exact pigeonhole join, no misses at the chunk boundary") {
    import spark.implicits._
    // crafted fingerprints: 0 vs 1 (ham 1), 0 vs 7 (ham 3, all in chunk 0),
    // and 0 vs one-bit-per-chunk (ham 4 — NO chunk equal AND above maxDist)
    // bits 1,17,33,49: distance 4 from doc 1 (h=0), ≥4 from docs 2/3/5
    val spread = 0x0002000200020002L
    val docs = Seq((1L, 0L), (2L, 1L), (3L, 7L), (4L, spread),
      (5L, 0L)) // exact clone of doc 1 at distance 0
      .toDF("doc_id", "h")
    val pairs = graft.dedup.SimHash.hammingPairs(docs, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 1 && pairs((1L, 3L)) == 3 && pairs((1L, 5L)) == 0)
    assert(pairs((2L, 3L)) == 2) // 1 vs 7
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L),
      s"distance->=4 doc must pair with nothing: $pairs")
    // a distance-4 pair agreeing on THREE chunks is still correctly cut
    // by the popcount filter (candidates may include it)
    val docs2 = Seq((1L, 0L), (2L, 0xFL)).toDF("doc_id", "h") // ham 4, chunk0 differs only
    assert(graft.dedup.SimHash.hammingPairs(docs2, maxDist = 3).count() == 0)
  }

  test("simhash hamming pairs: block-combination scheme exact at every block count") {
    import spark.implicits._
    // deterministic fingerprints with planted 1/2/3-bit perturbations
    // (offsets 21/43 keep the flipped bits distinct) plus random cross
    // pairs; brute force is the ground truth
    val rnd = new scala.util.Random(7)
    val docs0 = Vector.tabulate(60) { i => (i, rnd.nextLong()) }.flatMap {
      case (i, h) =>
        val flips = Seq(i % 64, (i + 21) % 64, (i + 43) % 64).take(i % 3 + 1)
        val perturbed = flips.foldLeft(h)((acc, bit) => acc ^ (1L << bit))
        Seq((i * 2L, h), (i * 2L + 1L, perturbed))
    }
    val expected = (for {
      a <- docs0; b <- docs0
      if a._1 < b._1
      d = java.lang.Long.bitCount(a._2 ^ b._2)
      if d <= 3
    } yield (a._1, b._1, d)).toSet
    val df = docs0.toDF("doc_id", "h")
    (4 to 8).foreach { b =>
      val got = SimHash.hammingPairs(df, maxDist = 3, numBlocks = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected, s"numBlocks=$b disagrees with brute force")
    }
    // the auto-sized path (no hint: one count job) agrees too
    val auto = SimHash.hammingPairs(df, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(auto == expected)
    // blockSize sweep with planted exact clones: blockSize=1 makes every
    // clone group span multiple blocks, exercising the blocked
    // enumeration/expansion machinery end-to-end on the same corpus
    val docs1 = docs0 ++ Seq((9000L, docs0.head._2), (9001L, docs0.head._2))
    val expected1 = (for {
      a <- docs1; b <- docs1
      if a._1 < b._1
      d = java.lang.Long.bitCount(a._2 ^ b._2)
      if d <= 3
    } yield (a._1, b._1, d)).toSet
    val df1 = docs1.toDF("doc_id", "h")
    val default1 = SimHash.hammingPairs(df1, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val blocked1 = SimHash.hammingPairs(df1, maxDist = 3, blockSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(default1 == expected1, "default blockSize disagrees with brute force")
    assert(blocked1 == expected1, "blockSize=1 disagrees with brute force")
  }

  test("full curation cascade: repetition stage slots between quality and dedup") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and she was " +
      "happy with it all day because this is natural english prose to keep"
    // English, decent quality metrics, but one bigram dominates
    val stuffed = ("the best offer best offer best offer best offer best " +
      "offer best offer best offer best offer here today") + " and more text"
    val docs = Seq(
      (1L, good), (2L, good), // dup pair: 1 kept, 2 duplicate
      (3L, stuffed),
      (4L, "der hund und die katze sind in dem haus mit dem mann und der frau"))
      .toDS()
    val out = graft.pipeline.Curate.curateFull(docs)
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(out(1L) == "kept" && out(2L) == "duplicate", out.toString)
    assert(out(3L) == "repetition", out.toString)
    assert(out(4L) == "lang", out.toString)
  }

  test("repetition signals: top-fraction and duplicate-line arithmetic") {
    import graft.text.Repetition
    val s1 = Repetition.signals("spam spam spam ham")
    assert(s1.n_words == 4 && s1.top_word_frac == 0.75)
    // bigrams: "spam spam" x2, "spam ham" x1 -> 2/3
    assert(s1.top_bigram_frac == math.floor(2.0 / 3 * 1e4 + 0.5) / 1e4)
    val s2 = Repetition.signals("a\nb\na\na")
    assert(s2.dup_line_frac == 0.5) // 4 lines, 2 distinct
    // degenerate inputs
    assert(Repetition.signals("") == Repetition.Signals(0, 0.0, 0.0, 0.0, 0.0))
    assert(Repetition.signals("word").top_bigram_frac == 0.0)
    // duplicate 10-grams (occurrence-count variant): an 11-word text of
    // one repeated word has 2 identical 10-grams -> 1 - 1/2 = 0.5;
    // under 10 words -> no grams -> 0.0
    assert(Repetition.signals(Seq.fill(11)("w").mkString(" ")).dup_10gram_frac == 0.5)
    assert(Repetition.signals(Seq.fill(9)("w").mkString(" ")).dup_10gram_frac == 0.0)
    val distinct10 = (1 to 20).map(i => s"w$i").mkString(" ")
    assert(Repetition.signals(distinct10).dup_10gram_frac == 0.0)
  }

  test("PII redaction: typed masks, ordered application, counts per kind") {
    import graft.text.Redact
    val r = Redact.redact(
      "mail a.b+c@ex-ample.org or root@10.0.0.1 host 192.168.1.77, " +
        "call +1 (555) 010-1234 now")
    // root@10.0.0.1 is NOT email-shaped (the TLD must be letters), so
    // its IP half is caught by the IP pass — the local part survives
    assert(r.n_emails == 1 && r.n_ips == 2 && r.n_phones == 1, r.toString)
    assert(r.clean ==
      "mail <EMAIL> or root@<IP> host <IP>, call <PHONE> now", r.clean)
    // no PII → untouched
    val clean = Redact.redact("plain prose with the number 42 only")
    assert(clean == Redact.Redacted("plain prose with the number 42 only", 0, 0, 0))
    // a long digit run is phone-shaped by design (conservative scrub)
    assert(Redact.redact("id 123456789012 end").n_phones == 1)
  }

  test("int8 quantization: bounded error, faithful roundtrip, zero-vector safe") {
    import spark.implicits._
    import graft.similarity.Quantize
    val rnd = new scala.util.Random(5)
    val vecs = Seq.tabulate(50) { i =>
      (i.toLong,
        if (i == 0) Array.fill(8)(0f) // zero vector
        else Array.fill(8)(rnd.nextGaussian().toFloat))
    }
    val out = Quantize.int8(vecs.toDS())
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getAs[Array[Byte]](2)))
    val byId = vecs.toMap
    out.foreach { case (id, scale, codes) =>
      val v = byId(id)
      assert(codes.length == v.length)
      assert(codes.forall(c => c >= -127 && c <= 127), s"code out of range: $id")
      if (id == 0L) assert(scale == 0.0 && codes.forall(_ == 0))
      else {
        // per-component error bounded by scale/2 (+ ulp headroom)
        assert(Quantize.maxError(v, scale, codes) <= scale / 2 + 1e-12, s"vec $id")
        // cosine of dequantized vs original stays near 1 for non-tiny vectors
        val dq = Quantize.dequantize(scale, codes)
        def dot(a: Array[Float], b: Array[Float]) =
          a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val cos = dot(v, dq) / math.sqrt(dot(v, v) * dot(dq, dq))
        assert(cos > 0.995, s"vec $id cosine $cos")
      }
    }
  }

  test("simhash clusters: matches brute-force connected components, one row per doc") {
    import spark.implicits._
    // planted structure: a 3-doc clone group (identical h), a CHAIN of
    // fingerprints each within distance 2 of the next but 4+ from the
    // ends (transitivity must merge them), and singletons
    val base = 0x0123456789abcdefL
    val docs0 = Vector(
      (1L, base), (2L, base), (3L, base), // clones
      (10L, base ^ 3L), // dist 2 from clones
      (11L, base ^ 3L ^ (3L << 10)), // dist 2 from 10, 4 from clones
      (20L, 0x7777000011112222L), // singleton
      (21L, 0x7777000011112222L ^ (0xFFL << 32))) // dist 8 from 20: separate
    val got = SimHash.hammingClusters(docs0.toDF("doc_id", "h"), maxDist = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force union-find ground truth
    val parent = scala.collection.mutable.Map(docs0.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for { a <- docs0; b <- docs0 if a._1 < b._1
          if java.lang.Long.bitCount(a._2 ^ b._2) <= 3 } {
      val (ra, rb) = (find(a._1), find(b._1))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = docs0.map(d => d._1 -> find(d._1)).toMap
    assert(got == expected, s"got $got expected $expected")
    // the chain merged transitively into the clones' cluster...
    assert(got(11L) == 1L && got(10L) == 1L && got(2L) == 1L)
    // ...and the distance-8 pair stayed apart
    assert(got(20L) == 20L && got(21L) == 21L)
  }

  test("simhash hamming pairs: auto-sized blocks bound per-key buckets at scale") {
    // key width grows with corpus count (the Ann.autoBits pattern): the
    // fixed 4x16-bit chunking held ~n/2^16 reps per bucket — quadratic
    // per key at 10^9 distinct fingerprints (round-3 verdict)
    assert(SimHash.autoBlocks(500) == 4)
    assert(SimHash.autoBlocks(1000000000L) == 5) // 24-bit keys, 10 tables
    assert(SimHash.autoBlocks(1000000000000L) == 7) // 36-bit keys, 35 tables
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    // planted low-entropy corpus: low 16 bits CONSTANT (boilerplate
    // tail), high bits random — fixed 16-bit chunking funnels ALL reps
    // into one chunk-0 bucket (n^2 candidates in one task); 6-block
    // combination keys always include random bits, so buckets stay small
    val n = 3000
    val rnd = new scala.util.Random(11)
    val reps = (0 until n).map(i => (i.toLong, (rnd.nextLong() << 16) | 0xBEEFL))
      .toDF("doc_id", "h")
      .groupBy(col("h")).agg(min("doc_id").as("rid"), count(lit(1)).as("n"))
    def maxBucket(b: Int): Long =
      SimHash.blockCombinationKeys(reps, 3, b)
        .groupBy("ci", "key").count()
        .agg(max("count")).as[Long].head()
    assert(maxBucket(4) == n, "4-block scheme should degenerate here (the fixed-chunking failure mode)")
    assert(maxBucket(6) <= 32, "6-block combination keys must stay discriminative")
  }

  test("curation pipeline: every doc gets a verdict, filters cascade in order") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and she was " +
      "happy with it all day because this is natural english prose to keep"
    val german = "der hund und die katze sind in dem haus mit dem mann und " +
      "der frau aber nicht auf der strasse weil es regnet und sie sind froh"
    // English by stopword profile ("the" hits) but low composite:
    // digit/punct-heavy, extreme token lengths, far too short
    val noisy = "the 123456789012345678901234567890 !!!!!!!!!!!!!!!!!!!! 99999"
    val docs = Seq(
      (1L, good), (2L, good), // exact dups: 1 kept, 2 duplicate
      (3L, german), // lang
      (4L, noisy), // quality
      (5L, good + " with a genuinely different tail making it unique text here"))
      .toDS()
    val exact = graft.pipeline.Curate.curateExact(docs)
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(exact(1L) == "kept" && exact(2L) == "duplicate", exact.toString)
    assert(exact(3L) == "lang" && exact(4L) == "quality", exact.toString)
    assert(exact(5L) == "kept", exact.toString)

    // near-dup variant additionally collapses doc 5 into doc 1's cluster
    val near = graft.pipeline.Curate.curateNearDup(docs, threshold = 0.5)
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(near(1L) == "kept" && near(2L) == "duplicate", near.toString)
    assert(near(5L) == "duplicate", near.toString)
    assert(near(3L) == "lang" && near(4L) == "quality", near.toString)
  }

  test("adaptive clone enumeration: blocked and direct paths agree exactly") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river today"
    val near = base.replace("today", "tomorrow")
    // 20 clones of base + 3 clones of near + 1 singleton
    val docs = ((0L until 20L).map(i => (i, base)) ++
      (100L until 103L).map(i => (i, near)) ++ Seq((200L, "something else entirely unrelated text"))).toDS()
    // cloneBlockSize=8 forces the blocked paths (max group 20 > 8);
    // 4096 takes the direct paths — the outputs must be identical
    val blocked = MinHashLsh.nearDuplicatePairs(docs, threshold = 0.5, cloneBlockSize = 8)
      .collect().toSet
    val direct = MinHashLsh.nearDuplicatePairs(docs, threshold = 0.5, cloneBlockSize = 4096)
      .collect().toSet
    assert(blocked == direct)
    assert(blocked.count(_._3 == 1.0) == 190 + 3) // C(20,2) + C(3,2)
    assert(blocked.exists(p => p._1 < 100 && p._2 >= 100)) // cross-group near-dups
  }

  test("blocked rep-pair expansion: exact |A|x|B| pair set across block cells") {
    import spark.implicits._
    val groups = ((0L until 10L).map(i => (i, 0L)) ++
      (100L until 105L).map(i => (i, 100L))).toDF("id", "rep")
    val repPairs = Seq((0L, 100L, 0.7)).toDF("ra", "rb", "j")
    val out = MinHashLsh.expandRepPairsBlocked(groups, repPairs, blockSize = 3)
      .collect().toSet
    val expected = (for { a <- 0L until 10L; b <- 100L until 105L }
      yield (a, b, 0.7)).toSet
    assert(out == expected)
  }

  test("near-dup clusters: one assignment per doc, 100k-clone group stays bounded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val boiler = ("the same boilerplate footer page content mirrored " +
      "across many hosts with identical wording throughout ") * 3
    val alt = boiler.replace("identical wording", "slightly altered wording")
    val far = "completely different text about unrelated topics entirely " * 4
    // a 100,000-copy clone group: the PAIR contract would be 5e9 rows; the
    // cluster contract is 100,002 assignment rows
    val n = 100000L
    val docs = spark.range(n).as[Long].map(i => (i, boiler))
      .union(Seq((200000L, alt), (300000L, far)).toDS())
    val clusters = MinHashLsh.nearDuplicateClusters(docs, threshold = 0.5)
      .toDF("id", "cluster").cache()
    assert(clusters.count() == n + 2)
    // every clone AND the near-dup variant land in doc 0's cluster
    assert(clusters.filter(col("cluster") === 0L).count() == n + 1)
    // the unrelated singleton maps to itself
    assert(clusters.filter(col("id") === 300000L).select("cluster")
      .as[Long].head() == 300000L)
    clusters.unpersist()
  }

  test("winnowing k-gram min fingerprint: normalization, subsets, short path") {
    import graft.text.Fingerprint._
    // whitespace-normalization invariance
    assert(kgramMin64("alpha  beta\tgamma") == kgramMin64("alpha beta gamma"))
    // windows of A survive in A++B, so the min can only decrease
    val a = "the quick brown fox jumps over the lazy dog"
    val b = a + " and then some more unrelated trailing words"
    assert(kgramMin64(b) <= kgramMin64(a))
    // short strings fall back to the whole-string rolling hash
    assert(kgramMin64("ab cd") == rolling64("ab cd"))
    // local-edit robustness in practice: one changed word far from the
    // min window usually preserves the fingerprint — check it at least
    // differs from an unrelated text
    assert(kgramMin64(a) != kgramMin64("completely different content here entirely"))
  }

  test("AV header probes parse real RIFF fmt/data and MP4 mvhd bytes") {
    import graft.multimodal.BinaryFeatures._
    val wav = probeAv(1L, syntheticWav(44100, 2, 44100))
    assert(wav == AvFeatures(1L, "wav", 44 + 44100 * 2 * 2, 44100, 2, 16, 1000L))
    val mp4 = probeAv(2L, syntheticMp4(600, 1500))
    assert(mp4 == AvFeatures(2L, "mp4", 132, 0, 0, 0, 2500L))
    // audio trak: the stsd descent reads rate/channels/bits from the
    // mp4a AudioSampleEntry (16.16 fixed-point rate)
    val mp4a = probeAv(7L, syntheticMp4(600, 1500, 48000, 2))
    assert(mp4a == AvFeatures(7L, "mp4", 216, 48000, 2, 16, 2500L))
    // mvhd version 1 (64-bit duration) — hand-assembled
    val v1 = java.nio.ByteBuffer.allocate(16 + 8 + 44)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    v1.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
    v1.putInt(52).put("moov".getBytes)
    v1.putInt(44).put("mvhd".getBytes)
    v1.put(1.toByte).put(Array[Byte](0, 0, 0)) // version 1 + flags
    v1.putLong(0L).putLong(0L) // creation/modification
    v1.putInt(90000).putLong(450000L) // timescale, duration → 5000 ms
    assert(probeAv(3L, v1.array()).duration_ms == 5000L)
    // junk stays honestly unknown
    assert(probeAv(4L, Array.fill[Byte](64)(7)).container == "unknown")
    // truncated/garbage headers must not throw
    assert(probeAv(5L, "RIFFxxxxWAVE".getBytes).container == "unknown")
    assert(probeAv(6L, Array.emptyByteArray).container == "unknown")
    // adversarial chunk/box sizes must neither loop forever nor index
    // out of bounds (untrusted crawl bytes)
    val evilWav = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    evilWav.put("RIFF".getBytes).putInt(56).put("WAVE".getBytes)
    evilWav.put("junk".getBytes).putInt(0xFFFFFFF8) // size wraps Int
    assert(probeAv(7L, evilWav.array()).container == "unknown")
    val evilMp4 = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    evilMp4.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0)
    evilMp4.putInt(0x80000000).put("moov".getBytes) // size >= 2^31
    assert(probeAv(8L, evilMp4.array()).container == "unknown")
  }

  test("ANN auto-sizing keeps bucket/cell population flat as n grows") {
    import graft.similarity.Ann._
    // expected bucket size n / 2^bits stays within ~[target/2, target]
    Seq(2000L, 20000L, 2000000L, 2000000000L).foreach { n =>
      val b = autoBits(n)
      val pop = n.toDouble / (1L << b)
      assert(pop <= 128.0 && b >= 4 && b <= 40, s"n=$n bits=$b pop=$pop")
    }
    // sf0.01 keeps its round-2 shape (bits 4 ≈ the old fixed value)
    assert(autoBits(2000) == 4)
    assert(autoBits(20000) == 8)
    // cells stay ≈ targetCell
    assert(autoNlist(2000) == 16 && autoNlist(20000) == 79)
    assert(autoNprobe(16) == 8 && autoNprobe(1024) == 64)
  }

  test("signature estimate tracks exact jaccard within the 3-sigma margin") {
    val base = Vector.tabulate(120)(i => s"tok$i").mkString(" ")
    (1 to 5).foreach { v =>
      val mutated = base.split(" ").zipWithIndex
        .map { case (t, i) => if (i % (3 + v) == 0) s"mut${v}_$i" else t }
        .mkString(" ")
      val exact = MinHashLsh.jaccard(base, mutated)
      val est = MinHashLsh.estimateJaccard(
        MinHashLsh.signature(base), MinHashLsh.signature(mutated))
      val sigma = math.sqrt(exact * (1 - exact) / MinHashLsh.NumHashes)
      assert(math.abs(est - exact) <= 3 * sigma + 0.02,
        f"estimate $est%.3f too far from exact $exact%.3f")
    }
  }

  test("fast gray-PNG codec is ImageIO-interoperable (r6 per-task-work path)") {
    import graft.multimodal.BinaryFeatures
    System.setProperty("java.awt.headless", "true")
    // 1. fast-encoded PNG must be a VALID PNG: decode it with ImageIO
    //    directly (bypassing the fast decoder) — dims and every sample
    //    must round-trip
    val png = BinaryFeatures.syntheticPng(13, 9, 77)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img != null, "ImageIO rejected the fast-encoded PNG")
    assert(img.getWidth == 13 && img.getHeight == 9)
    (0 until 9).foreach(y => (0 until 13).foreach(x =>
      assert(img.getRaster.getSample(x, y, 0) == 77)))
    // 2. ImageIO-encoded gradient PNG (exercises non-zero row filters)
    //    through the fast decoder via decode(): same features as a
    //    pure-ImageIO decode of the same bytes
    val grad = new java.awt.image.BufferedImage(
      64, 5, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    (0 until 5).foreach(y => (0 until 64).foreach(x =>
      grad.getRaster.setSample(x, y, 0, (x * 4 + y) % 256)))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(grad, "png", baos)
    val f = BinaryFeatures.decode(1L, baos.toByteArray)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(baos.toByteArray))
    var sum = 0L
    (0 until 5).foreach(y => (0 until 64).foreach(x =>
      sum += ref.getRaster.getSample(x, y, 0)))
    val want = math.floor(sum.toDouble / (64 * 5) * 1000 + 0.5) / 1000
    assert((f.kind, f.width, f.height, f.mean_byte) == ("image", 64, 5, want))
    // 3. resize of the gradient through the fast path = manual
    //    nearest-neighbor over the ImageIO raster
    val rs = BinaryFeatures.decode(2L, BinaryFeatures.resizeNearest(baos.toByteArray, 16, 2))
    var rsum = 0L
    (0 until 2).foreach(y => (0 until 16).foreach(x =>
      rsum += ref.getRaster.getSample(x * 64 / 16, y * 5 / 2, 0)))
    assert(rs.width == 16 && rs.height == 2 &&
      rs.mean_byte == math.floor(rsum.toDouble / 32 * 1000 + 0.5) / 1000)
  }

  test("gray-PNG fast decoder degrades gracefully on corrupt bytes") {
    import graft.multimodal.BinaryFeatures
    System.setProperty("java.awt.headless", "true")
    // 1. chunk length that wraps Int when added to the cursor: must fall
    //    back (here to stub — ImageIO rejects it too), never throw
    val evil = BinaryFeatures.syntheticPng(4, 4, 10).clone()
    evil(33) = 0x7f.toByte; evil(34) = 0xff.toByte
    evil(35) = 0xff.toByte; evil(36) = 0xf0.toByte
    // the fast path must decline (no Int-wrap crash); the ImageIO
    // fallback is free to be lenient and still decode the pixels
    val f1 = BinaryFeatures.decode(1L, evil)
    assert(f1.kind == "stub" || (f1.kind == "image" && f1.width == 4))
    BinaryFeatures.resizeNearest(evil, 2, 2) // must not throw
    // 2. zlib FDICT preset-dictionary header (forbidden in PNG): the
    //    inflate loop must bail, not spin forever
    val bb = java.nio.ByteBuffer.allocate(8 + 25 + 12 + 6 + 12)
    bb.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n'))
    bb.putInt(13).put("IHDR".getBytes)
      .putInt(2).putInt(2).put(8.toByte).put(0.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).putInt(0)
    bb.putInt(6).put("IDAT".getBytes)
      .put(0x78.toByte).put(0x20.toByte) // CMF/FLG with FDICT set, %31 valid
      .putInt(1) // dict id
      .putInt(0)
    bb.putInt(0).put("IEND".getBytes).putInt(0)
    assert(BinaryFeatures.decode(2L, bb.array()).kind == "stub")
  }

  test("real image decode and nearest-neighbor resize round-trip") {
    import graft.multimodal.BinaryFeatures
    System.setProperty("java.awt.headless", "true")
    // constant-gray PNG: decode returns genuine dims + exact mean
    val png = BinaryFeatures.syntheticPng(12, 7, 99)
    val f = BinaryFeatures.decode(5L, png)
    assert((f.kind, f.width, f.height, f.n_frames, f.mean_byte) ==
      ("image", 12, 7, 1, 99.0))
    // resize keeps content (constant image) at the new dims
    val r = BinaryFeatures.decode(5L, BinaryFeatures.resizeNearest(png, 5, 3))
    assert((r.width, r.height, r.mean_byte) == (5, 3, 99.0))
    // gradient image: nearest-neighbor picks floor-scaled source pixels
    val img = new java.awt.image.BufferedImage(
      4, 1, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    (0 until 4).foreach(x => img.getRaster.setSample(x, 0, 0, x * 10))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val half = BinaryFeatures.decode(1L, BinaryFeatures.resizeNearest(baos.toByteArray, 2, 1))
    assert(half.mean_byte == 10.0) // pixels (0, 20) → mean 10
    // non-image payloads fall back to the documented stub
    assert(BinaryFeatures.decode(7L, "not an image".getBytes).kind == "stub")
  }

  test("A11 reduction summary matches the reference's summary fields") {
    import spark.implicits._
    import graft.text.Truncate
    val docs = Seq(
      (1L, "short doc."), // kept
      (2L, ("x" * 90) + ". " + ("y" * 200)), // truncated at the sentence → 91
      (3L, "z" * 300)) // hard cut + ellipsis → 100
      .toDS()
    val row = Truncate.reductionSummary(docs, maxChars = 100).collect().head
    assert(row.getLong(0) == 3) // total_files
    assert(row.getLong(1) == 10 + 292 + 300) // total_original_chars
    assert(row.getLong(2) == 10 + 91 + 100) // total_final_chars
    // (1 - 201/602)*100 = 66.611... → 66.6
    assert(row.getDouble(3) == 66.6)
    assert(row.getLong(4) == 2 && row.getLong(5) == 1)
  }

  test("simhash hamming distance separates near from far") {
    val a = SimHash.simhash64("alpha beta gamma delta epsilon zeta eta theta")
    val b = SimHash.simhash64("alpha beta gamma delta epsilon zeta eta iota")
    val c = SimHash.simhash64("totally different content with other words entirely here")
    assert(SimHash.hamming(a, b) < SimHash.hamming(a, c))
  }

  test("simhash64 Catalyst expression matches the JVM implementation") {
    import spark.implicits._
    graft.expr.SimHash64Expr.register(spark)
    val rows = Seq("alpha beta gamma", "the quick brown fox", "")
      .toDF("t")
      .selectExpr("t", "simhash64(t) AS h")
      .as[(String, Long)].collect()
    rows.foreach { case (t, h) => assert(h == SimHash.simhash64(t)) }
  }

  test("language id picks the right profile") {
    assert(LangId.detect("the cat sat on the mat and it was happy")._1 == "en")
    assert(LangId.detect("le chat est sur la table et il est content")._1 == "fr")
    assert(LangId.detect("der Hund ist in dem Haus und er ist froh")._1 == "de")
    assert(LangId.detect("")._1 == "und")
  }

  test("fingerprints are whitespace-insensitive and content-sensitive") {
    assert(Fingerprint.rolling64("a  b\tc") == Fingerprint.rolling64("a b c"))
    assert(Fingerprint.rolling64("a b c") != Fingerprint.rolling64("a b d"))
  }

  test("chunker packs sentences like the reference") {
    val text = ("Sentence one is here. " * 40).trim
    val chunks = Chunker.split(text, maxChars = 100)
    assert(chunks.forall(_.length <= 105))
    assert(chunks.forall(!_.isEmpty))
    val offsets = Chunker.withOffsets(text, 100)
    assert(offsets.sliding(2).forall {
      case Vector((c, o1), (_, o2)) => o2 == o1 + c.length + 2
      case _ => true
    })
  }

  test("segmenter keeps abbreviations and initials inside sentences") {
    val s = Segmenter.sentences(
      "Dr. Smith met F. Scott Fitzgerald in St. Paul. They talked. It was 1920.")
    assert(s.length == 3, s.mkString("|"))
    assert(s.head == "Dr. Smith met F. Scott Fitzgerald in St. Paul.")
  }
}
