package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Fake external video codec for the VideoFrameDecoder SPI hook test:
  * "handles" payloads that start with the bytes "FAKE", emitting one
  * deterministic frame per 16 payload bytes.
  */
class FakeVideoDecoder extends Multimodal.VideoFrameDecoder {
  override def decodeFrames(bytes: Array[Byte], stride: Int)
      : Option[Seq[Multimodal.SampledFrame]] =
    if (bytes.length < 4 || new String(bytes, 0, 4, "ISO-8859-1") != "FAKE")
      None
    else Some(Range(0, bytes.length / 16, stride).map(i =>
      Multimodal.SampledFrame(-1L, i, 320, 240, bytes.length * 31L + i,
        decoded = true)))
}

/** misbehaving provider: claims every payload, then throws */
class ExplodingVideoDecoder extends Multimodal.VideoFrameDecoder {
  override def decodeFrames(bytes: Array[Byte], stride: Int)
      : Option[Seq[Multimodal.SampledFrame]] =
    throw new RuntimeException("codec crashed")
}

/** Unit tests for the training-pipeline operators on hand-built
  * micro-corpora (planted duplicates / known vectors).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "The  quick brown fox jumps over the lazy dog"), // exact dup of 1 (case/ws)
    (4L, "completely different content about spark engines and scale"),
    (5L, "einzelne deutsche worte der die das und hier")
  ).toDF("doc_id", "text")

  test("exact dedup groups case/whitespace-normalized duplicates") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length == 4)
    val dupGroup = out.find(_.getLong(2) == 2L)
    assert(dupGroup.isDefined && dupGroup.get.getLong(1) == 1L) // keeps min id
  }

  test("chunk: overlapping token windows cover every token, tail is short") {
    import graft.operators.TextAnalysis
    // 9-token doc, width 4 stride 3 -> starts 0,3,6: windows of
    // 4,4,3 tokens; every token index covered; overlap of 1 between
    // consecutive windows
    val one = Seq((1L, "a b c d e f g h i")).toDF("doc_id", "text")
    val got = TextAnalysis.chunk(one, "doc_id", "text", width = 4, stride = 3)
      .orderBy("chunk_idx")
      .collect().map(r => (r.getInt(1), r.getString(2), r.getInt(3)))
    assert(got.toSeq == Seq(
      (0, "a b c d", 4), (1, "d e f g", 4), (2, "g h i", 3)))
    // stride == width: exact partition, no overlap
    val part = TextAnalysis.chunk(one, "doc_id", "text", width = 3, stride = 3)
      .orderBy("chunk_idx")
      .collect().map(_.getString(2))
    assert(part.toSeq == Seq("a b c", "d e f", "g h i"))
    // empty/whitespace doc still emits its one degenerate chunk
    val empty = Seq((9L, "   ")).toDF("doc_id", "text")
    val e = TextAnalysis.chunk(empty, "doc_id", "text", width = 4, stride = 3)
      .collect()
    assert(e.length == 1 && e.head.getInt(1) == 0)
    // invariant on real docs: concatenating stride-prefixes of the
    // chunks rebuilds the document's token stream exactly
    val doc = docs.filter($"doc_id" === 1L)
    val chunks = TextAnalysis.chunk(doc, "doc_id", "text", width = 4, stride = 2)
      .orderBy("chunk_idx").collect()
    val rebuilt = chunks.flatMap(r =>
      r.getString(2).split("\\s+").take(2)).mkString(" ")
    assert(rebuilt == "the quick brown fox jumps over the lazy dog")
  }

  test("unigramLogProbScore: hand-computed means, OOV floor, empty-doc floor") {
    import graft.operators.TextAnalysis
    // corpus tokens: a:2 b:1 c:1, total 4 -> p(a)=1/2, p(b)=p(c)=1/4
    val tiny = Seq((1L, "a a b"), (2L, "c"), (3L, "   ")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProbScore(tiny, "doc_id", "text", topV = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r4d(x: Double) = math.floor(x * 10000d + 0.5d) / 10000d
    val ln = (x: Double) => math.log(x)
    assert(got(1L) == r4d((2 * ln(0.5) + ln(0.25)) / 3)) // -0.9242
    assert(got(2L) == r4d(ln(0.25)))                     // -1.3863
    // token-less doc scores the pure-OOV floor ln(1/total), not dropped
    assert(got(3L) == r4d(-ln(4.0)))
    // vocab cap: with topV=1 only 'a' is in-vocab; b and c fall to the
    // OOV floor ln(1/4) — doc 1's mean shifts accordingly
    val capped = TextAnalysis.unigramLogProbScore(tiny, "doc_id", "text", topV = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(capped(1L) == r4d((2 * ln(0.5) + ln(0.25)) / 3))
    // ordering sanity on the shared docs fixture: common-word English
    // prose outscores the all-different-words doc scored by the same
    // corpus model
    val scores = TextAnalysis.unigramLogProbScore(docs, "doc_id", "text", topV = 100)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > scores(4L),
      s"repeated-vocab doc ${scores(1L)} should outscore unique-vocab doc ${scores(4L)}")
  }

  test("ngram jaccard finds the planted near-duplicate pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH recovers the same pairs as exact jaccard here") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5, maxDf = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, k = 64, bands = 16, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("LSH hot-bucket cap drops oversized buckets from candidate gen") {
    // three byte-identical docs share EVERY band bucket (size 3); a
    // cap of 2 drops them all, so no candidate pairs survive — the
    // skew guard that keeps one degenerate bucket from going quadratic
    val t = "the very same boilerplate text repeated in every document"
    val dup = Seq((1L, t), (2L, t), (3L, t)).toDF("doc_id", "text")
    val capped = Dedup.minhashLshPairs(dup, "doc_id", "text",
      n = 3, k = 64, bands = 16, threshold = 0.5, maxBucket = 2).collect()
    assert(capped.isEmpty)
    val uncapped = Dedup.minhashLshPairs(dup, "doc_id", "text",
      n = 3, k = 64, bands = 8, threshold = 0.5).collect()
    assert(uncapped.length == 3) // all three pairs
  }

  test("simhash: identical docs at distance 0, near-dups close") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 16)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Number](2).longValue)).toMap
    assert(pairs((1L, 3L)) == 0L) // normalization-identical
    assert(pairs.get((1L, 2L)).exists(_ <= 16L))
  }

  test("cosine similarity: self=1, orthogonal=0") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(2.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val sims = vecs.as("a").crossJoin(vecs.as("b"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 6).as("s"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(sims((1L, 1L)) == 1.0)
    assert(sims((1L, 2L)) == 0.0)
    assert(sims((1L, 3L)) == 1.0) // scale-invariant
  }

  test("IVF top-k finds planted neighbors through the probed lists") {
    // two tight clusters far apart + queries inside each: with enough
    // probes the planted near-dup must surface as the top neighbor
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)
    val c1 = Array.fill(8)(1.0f) ++ Array.fill(8)(0.0f)
    val c2 = Array.fill(8)(0.0f) ++ Array.fill(8)(1.0f)
    val rows = (0L until 20L).map(i =>
      (i, jitter(if (i % 2 == 0) c1 else c2)))
    val vecs = rows.toDF("vec_id", "embedding")
    val top = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") < 2), k = 3,
      nlist = 4, nprobe = 2, iters = 2, idCol = "vec_id", vecCol = "embedding")
      .collect()
    val byQ = top.groupBy(_.getLong(0))
    // every top-3 neighbor of query 0 (cluster 1) is an even id, of
    // query 1 (cluster 2) an odd id — lists kept the clusters apart
    assert(byQ(0L).map(_.getLong(2)).forall(_ % 2 == 0))
    assert(byQ(1L).map(_.getLong(2)).forall(_ % 2 == 1))
    assert(byQ(0L).length == 3 && byQ(1L).length == 3)
    // and the similarities are near 1 within a cluster
    assert(top.forall(_.getDouble(3) > 0.99))
  }

  test("IVF training is sample-bounded and fully distributed") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 200L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat())))
    val vecs = rows.toDF("vec_id", "embedding")
    // the training input is the sampleN smallest ids, nothing more —
    // the only bounded materialization the build performs (no stage
    // ever collects the corpus to the driver; assignment is a
    // projection, means aggregate to nlist×dims cells)
    val sample = Similarity.trainSample(vecs, "vec_id", "embedding", 50)
    assert(sample.count() == 50)
    assert(sample.agg(max(col("id"))).head().getLong(0) == 49L)
    // centroids computed from the sample must equal a driver
    // re-computation over exactly those 50 rows (proving both the
    // sample bound and the distributed Lloyd arithmetic)
    val cents = Similarity.ivfCentroids(vecs, "vec_id", "embedding",
      nlist = 4, iters = 2, sampleN = 50)
    val local = rows.take(50).map { case (id, v) =>
      (id, v.map(_.toDouble)) }
    var ref: Array[(Int, Array[Double])] =
      local.filter(_._1 < 4).map { case (id, v) => (id.toInt, v) }.toArray
    for (_ <- 1 to 2) {
      val assigned = local.map { case (_, v) =>
        val best = ref.map { case (cid, cv) =>
          (cv.zip(v).map { case (c, x) => (x - c) * (x - c) }.sum, cid)
        }.minBy(identity)
        (best._2, v)
      }
      ref = assigned.groupBy(_._1).toArray.sortBy(_._1).map { case (cid, vs) =>
        val n = vs.length
        (cid, (0 until 16).map(d =>
          BigDecimal(vs.map(_._2(d)).sum / n)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toArray)
      }
    }
    assert(cents.map(_._1).toSeq == ref.map(_._1).toSeq)
    cents.zip(ref).foreach { case ((_, a), (_, b)) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
  }

  test("memo eviction unpersists cached plans; storage returns to baseline") {
    import org.apache.spark.storage.StorageLevel
    val memo = new Memo[Int, Memo.Frame](2, caches = _.cached)
    val dfs = (0 until 3).map { i =>
      val d = Seq((i.toLong, s"text $i")).toDF("doc_id", "text").cache()
      d.count() // materialize the cache block
      d
    }
    dfs.zipWithIndex.foreach { case (d, i) =>
      memo.getOrElseUpdate(i, Memo.Frame(d, Seq(d)))
    }
    assert(memo.size == 2)
    // the eldest entry's cache blocks are gone; the survivors' remain
    assert(dfs(0).storageLevel == StorageLevel.NONE,
      "evicted entry must be unpersisted")
    assert(dfs(1).storageLevel != StorageLevel.NONE)
    assert(dfs(2).storageLevel != StorageLevel.NONE)
    dfs.foreach(_.unpersist())
  }

  test("memo refcount: a shared cache survives until its last holder evicts") {
    import org.apache.spark.storage.StorageLevel
    def shared() = Seq((1L, "row shared by two memos")).toDF("doc_id", "text")
      .cache()
    val d = shared()
    d.count()
    val a = new Memo[Int, Memo.Frame](1, caches = _.cached)
    val b = new Memo[Int, Memo.Frame](1, caches = _.cached)
    // plan-equal instances share one cache block and one refcount
    a.getOrElseUpdate(0, Memo.Frame(d, Seq(d)))
    b.getOrElseUpdate(0, { val d2 = shared(); Memo.Frame(d2, Seq(d2)) })
    a.getOrElseUpdate(1, Memo.Frame(d.limit(0), Nil))
    assert(a.size == 1)
    assert(d.storageLevel != StorageLevel.NONE,
      "evicted from one memo while the other still holds it")
    b.getOrElseUpdate(1, Memo.Frame(d.limit(0), Nil))
    assert(b.size == 1)
    assert(d.storageLevel == StorageLevel.NONE,
      "last holder evicted: the cache must be released")
  }

  test("capBuckets: hinted and unhinted regimes agree; hot bucket drops") {
    // one hot key (6 members > cap 3), two cold keys, one null key —
    // the r13 gate decides broadcast-vs-not from plan stats with NO
    // plan-construction job; forcing maxHotBroadcastRows=0 exercises
    // the unhinted (AQE-adaptive) regime against the same input
    val rows = (1L to 6L).map(i => (Some("hot"), i)) ++
      Seq((Some("c1"), 10L), (Some("c1"), 11L), (Some("c2"), 12L),
        (None: Option[String], 13L))
    val df = rows.toDF("k", "m")
    def run(): Seq[(String, Long)] =
      Dedup.capBuckets(df, Seq("k"), maxBucket = 3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    val hinted = run()
    val old = sys.props.put("graft.dedup.maxHotBroadcastRows", "0")
    val unhinted = try run() finally {
      old match {
        case Some(v) => sys.props.put("graft.dedup.maxHotBroadcastRows", v)
        case None => sys.props.remove("graft.dedup.maxHotBroadcastRows")
      }
    }
    assert(hinted == unhinted, "cap regimes must be byte-identical")
    assert(hinted.map(_._1).toSet == Set("c1", "c2"),
      "hot-bucket rows and null keys must drop")
  }

  test("bounded top-k aggregate: heap semantics across partitions and strings") {
    import graft.functions.GraphdFunctions.bounded_top_k
    // 1000 rows over 10 groups, spread over many partitions so the
    // partial/merge/serialize path is exercised; expect each group's 3
    // smallest (v asc, id asc), ranks dense from 1
    val df = spark.range(1000).repartition(16)
      .selectExpr("id % 10 AS g", "CAST((id * 37) % 1000 AS DOUBLE) AS v",
        "id", "concat('s', id) AS s")
    val out = df.groupBy(col("g"))
      .agg(bounded_top_k(struct(col("v"), col("id"), col("s")), 3).as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("i", "r")))
      .select(col("g"), (col("i") + 1).as("rk"), col("r.v"), col("r.id"), col("r.s"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getLong(3), r.getString(4)))
    val expected = (0L until 1000L).map(id =>
        (id % 10, (id * 37) % 1000 * 1.0, id, s"s$id"))
      .groupBy(_._1).toSeq.flatMap { case (g, rows) =>
        rows.sortBy(t => (t._2, t._3)).take(3).zipWithIndex.map {
          case ((_, v, id, s), i) => (g, i + 1, v, id, s)
        }
      }.toSet
    assert(out.toSet == expected)
    assert(out.length == 30)
  }

  test("no Scala UDFs in the operator hot paths") {
    // VERDICT r6: per-row UDFs break whole-stage codegen at index-build
    // scale; every scalar in operators/ must be a column function or a
    // native codegen'd expression
    val dir = new java.io.File("src/main/scala/graft/operators")
    val offenders = dir.listFiles.filter(_.getName.endsWith(".scala"))
      .filter { f =>
        val src = scala.io.Source.fromFile(f)(scala.io.Codec.ISO8859)
        try src.mkString.contains("udf(") finally src.close()
      }
    assert(offenders.isEmpty,
      s"udf( found in: ${offenders.map(_.getName).mkString(", ")}")
  }

  test("brute top-k ranks by similarity with deterministic ties") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(1.0f, 0.1f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteTopK(vecs, vecs.filter($"vec_id" === 1), 2)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(top.toSeq == Seq((1, 2L), (2, 4L))) // tie (2,4) broken by id
  }

  test("language id picks the profile with most stopword hits") {
    val out = docs.select($"doc_id", TextAnalysis.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(5L) == "de")
  }

  test("multimodal: stub decode is deterministic and typed") {
    val media = Multimodal.mediaTable(docs)
    assert(media.schema("media").dataType.typeName == "binary")
    val f = Multimodal.extractFeatures(spark, media).collect()
      .map(x => x.doc_id -> x).toMap
    assert(f(1L).n_bytes == 43)
    assert(f(1L).width == 64 + 43 % 1024)
    assert(f.values.forall(_.channels == 3))
    // frame sampling only applies to video rows (doc_id % 3 == 2)
    val frames = Multimodal.sampleFrames(spark, media, stride = 1).collect()
    assert(frames.forall(r => r.getLong(0) % 3 == 2))
  }

  test("multimodal: real image bytes decode through the codec probe") {
    // a genuine 7x5 PNG rendered in-memory: the ImageIo path must
    // report the REAL geometry, keeping stub-derived n_bytes/sig
    val img = new java.awt.image.BufferedImage(7, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(3, 2, 0xff8800)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val real = Multimodal.ImageIoCodec.decode(
      Multimodal.MediaRow(1L, "image", png))
    assert(real.width == 7 && real.height == 5)
    assert(real.channels == 3 && real.n_frames == 1)
    assert(real.n_bytes == png.length)
    assert(real.sig == Multimodal.StubCodec.decode(
      Multimodal.MediaRow(1L, "image", png)).sig)
    // non-decodable payloads (and non-image types) stay STUB-IDENTICAL,
    // so an environment without codecs behaves the same
    val text = Multimodal.MediaRow(2L, "image", "not an image".getBytes)
    assert(Multimodal.ImageIoCodec.decode(text) ==
      Multimodal.StubCodec.decode(text))
    val video = Multimodal.MediaRow(3L, "video", png)
    assert(Multimodal.ImageIoCodec.decode(video) ==
      Multimodal.StubCodec.decode(video))
    // and the distributed path uses the probe: a real PNG row through
    // extractFeatures reports decoded geometry
    import spark.implicits._
    val df = Seq((9L, "image", png)).toDF("doc_id", "media_type", "media")
    val out = Multimodal.extractFeatures(spark, df).collect().head
    assert(out.width == 7 && out.height == 5)
  }

  test("multimodal: real WAV bytes decode through the audio probe") {
    import javax.sound.sampled._
    // a genuine in-memory WAV: 100 frames of 16-bit stereo PCM at 8kHz
    val fmt = new AudioFormat(8000f, 16, 2, true, false)
    val pcm = new Array[Byte](100 * fmt.getFrameSize)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 100L)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val real = Multimodal.AudioCodec.decode(
      Multimodal.MediaRow(4L, "audio", wav))
    assert(real.width == 8000)      // sample rate rides in width
    assert(real.height == 16)       // bits per sample in height
    assert(real.n_frames == 100 && real.channels == 2)
    assert(real.n_bytes == wav.length)
    assert(real.sig == Multimodal.StubCodec.decode(
      Multimodal.MediaRow(4L, "audio", wav)).sig)
    // non-parseable audio payloads stay STUB-IDENTICAL (the m01/m02
    // gates feed UTF-8 text as the opaque binary)
    val textRow = Multimodal.MediaRow(5L, "audio", "not audio".getBytes)
    assert(Multimodal.AudioCodec.decode(textRow) ==
      Multimodal.StubCodec.decode(textRow))
    // the unified chain routes by media_type: WAV bytes typed "image"
    // fall to the stub, and the distributed path reports real metadata
    assert(Multimodal.ImageIoCodec.decode(
      Multimodal.MediaRow(6L, "image", wav)) ==
      Multimodal.StubCodec.decode(Multimodal.MediaRow(6L, "image", wav)))
    import spark.implicits._
    val df = Seq((9L, "audio", wav)).toDF("doc_id", "media_type", "media")
    val out = Multimodal.extractFeatures(spark, df).collect().head
    assert(out.width == 8000 && out.n_frames == 100 && out.channels == 2)
  }

  test("multimodal: MP3 frame headers decode through the compressed-audio probe") {
    // MPEG1 Layer III 44.1kHz 128kbps stereo: header ff fb 90 00,
    // frame length 144000*128/44100 = 417 bytes
    val f1 = Array(0xff, 0xfb, 0x90, 0x00).map(_.toByte) ++
      new Array[Byte](413)
    val id3v2 = "ID3".getBytes("ISO-8859-1") ++
      Array[Byte](4, 0, 0) ++ Array[Byte](0, 0, 0, 0) // empty syncsafe tag
    val id3v1 = "TAG".getBytes("ISO-8859-1") ++ new Array[Byte](125)
    val mp3 = id3v2 ++ f1 ++ f1 ++ f1 ++ id3v1
    val real = Multimodal.AudioCodec.decode(
      Multimodal.MediaRow(20L, "audio", mp3))
    assert(real.width == 44100) // sample rate rides in width
    assert(real.channels == 2 && real.n_frames == 3)
    assert(real.n_bytes == mp3.length)
    assert(real.sig == Multimodal.StubCodec.decode(
      Multimodal.MediaRow(20L, "audio", mp3)).sig)
    // MPEG2 Layer III 24kHz 32kbps mono: ff f3 44 c0, frame length
    // 72000*32/24000 = 96 bytes — the V2 rate/bitrate tables
    val f2 = Array(0xff, 0xf3, 0x44, 0xc0).map(_.toByte) ++
      new Array[Byte](92)
    val mono = f2 ++ f2
    val r2 = Multimodal.AudioCodec.decode(
      Multimodal.MediaRow(21L, "audio", mono))
    assert(r2.width == 24000 && r2.channels == 1 && r2.n_frames == 2)
    // determinism guard: valid sync bits followed by non-frame bytes
    // must NOT claim the payload — whole-stream walk or stub
    val junk = Array(0xff, 0xfb, 0x90, 0x00).map(_.toByte) ++
      "definitely not four hundred bytes".getBytes
    assert(Multimodal.AudioCodec.decode(
      Multimodal.MediaRow(22L, "audio", junk)) ==
      Multimodal.StubCodec.decode(Multimodal.MediaRow(22L, "audio", junk)))
  }

  test("multimodal: OGG page headers decode through the compressed-audio probe") {
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le64(v: Long): Array[Byte] = le32(v & 0xffffffffL) ++ le32(v >>> 32)
    def page(typ: Int, granule: Long, seq: Long, segs: Array[Byte],
        payload: Array[Byte]): Array[Byte] =
      "OggS".getBytes("ISO-8859-1") ++ Array[Byte](0, typ.toByte) ++
        le64(granule) ++ le32(0x1234L) ++ le32(seq) ++ le32(0L) ++
        Array(segs.length.toByte) ++ segs ++ payload
    // Opus: id header on the BOS page, total samples on the EOS granule
    val opusHead = "OpusHead".getBytes("ISO-8859-1") ++
      Array[Byte](1, 2) ++ Array[Byte](0x38, 1) ++ le32(48000L) ++
      Array[Byte](0, 0, 0)
    val ogg = page(2, 0L, 0L, Array(opusHead.length.toByte), opusHead) ++
      page(4, 96000L, 1L, Array[Byte](), Array[Byte]())
    val real = Multimodal.AudioCodec.decode(
      Multimodal.MediaRow(23L, "audio", ogg))
    assert(real.width == 48000 && real.channels == 2)
    assert(real.n_frames == 96000) // PCM samples from the final granule
    // Vorbis-I id header variant
    val vorbisId = Array[Byte](1) ++ "vorbis".getBytes("ISO-8859-1") ++
      le32(0L) ++ Array[Byte](2) ++ le32(22050L) ++ new Array[Byte](17)
    val oggV = page(2, 0L, 0L, Array(vorbisId.length.toByte), vorbisId) ++
      page(4, 44100L, 1L, Array[Byte](), Array[Byte]())
    val rv = Multimodal.AudioCodec.decode(
      Multimodal.MediaRow(24L, "audio", oggV))
    assert(rv.width == 22050 && rv.channels == 2 && rv.n_frames == 44100)
  }

  test("multimodal: an installed MP3/OGG AudioSystem SPI takes precedence (clean skip without one)") {
    // the SPI seam: AudioSystem consults every installed provider, so a
    // classpath MP3 SPI serves compressed formats ahead of the header
    // parse. This container ships none — the test cancels cleanly then.
    val f1 = Array(0xff, 0xfb, 0x90, 0x00).map(_.toByte) ++
      new Array[Byte](413)
    val spiPresent =
      try {
        javax.sound.sampled.AudioSystem.getAudioFileFormat(
          new java.io.ByteArrayInputStream(f1 ++ f1))
        true
      } catch { case _: Exception => false }
    assume(spiPresent,
      "no MP3 AudioSystem SPI on this classpath — the probe falls " +
        "through to the header parse (covered by the MP3 test above)")
    val real = Multimodal.AudioCodec.decode(
      Multimodal.MediaRow(25L, "audio", f1 ++ f1))
    assert(real.width == 44100 && real.channels == 2)
  }

  test("multimodal: MP4 and AVI container headers decode through the video probe") {
    // ---- a minimal hand-built ISO BMFF file: ftyp + moov(trak(tkhd,
    // mdia(minf(stbl(stsz))))) — exactly the boxes the probe reads
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ typ.getBytes("ISO-8859-1") ++ payload
    // tkhd v0: version/flags + 68 bytes of fields/matrix, then
    // 16.16-fixed width=640, height=360
    val tkhd = box("tkhd",
      new Array[Byte](4 + 72) ++ be32(640L << 16) ++ be32(360L << 16))
    // stsz v0: sample_size=0, sample_count=240
    val stsz = box("stsz", new Array[Byte](4) ++ be32(0L) ++ be32(240L))
    val mp4 = box("ftyp", "isom0000".getBytes("ISO-8859-1")) ++
      box("moov", box("trak",
        tkhd ++ box("mdia", box("minf", box("stbl", stsz)))))
    val vReal = Multimodal.ImageIoCodec.decode(
      Multimodal.MediaRow(7L, "video", mp4))
    assert(vReal.width == 640 && vReal.height == 360)
    assert(vReal.n_frames == 240 && vReal.channels == 3)
    assert(vReal.n_bytes == mp4.length)
    assert(vReal.sig == Multimodal.StubCodec.decode(
      Multimodal.MediaRow(7L, "video", mp4)).sig)
    // ---- a minimal RIFF AVI: RIFF('AVI ' LIST('hdrl' avih{...}))
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val avih = le32(33367L) ++ le32(0L) ++ le32(0L) ++ le32(0L) ++
      le32(120L) ++ new Array[Byte](12) ++ le32(320L) ++ le32(200L) ++
      new Array[Byte](16)
    val hdrl = "hdrl".getBytes("ISO-8859-1") ++
      "avih".getBytes("ISO-8859-1") ++ le32(avih.length.toLong) ++ avih
    val aviBody = "AVI ".getBytes("ISO-8859-1") ++
      "LIST".getBytes("ISO-8859-1") ++ le32(hdrl.length.toLong) ++ hdrl
    val avi = "RIFF".getBytes("ISO-8859-1") ++
      le32(aviBody.length.toLong) ++ aviBody
    val aReal = Multimodal.ImageIoCodec.decode(
      Multimodal.MediaRow(8L, "video", avi))
    assert(aReal.width == 320 && aReal.height == 200 && aReal.n_frames == 120)
    // non-parseable video payloads stay STUB-IDENTICAL (the m01/m02
    // gates feed UTF-8 text as the opaque binary)
    val tv = Multimodal.MediaRow(9L, "video", "not a video".getBytes)
    assert(Multimodal.ImageIoCodec.decode(tv) ==
      Multimodal.StubCodec.decode(tv))
    // MP4 bytes typed "audio" route past the video probe to the stub
    val mis = Multimodal.MediaRow(10L, "audio", mp4)
    assert(Multimodal.ImageIoCodec.decode(mis) ==
      Multimodal.StubCodec.decode(mis))
    // distributed path
    import spark.implicits._
    val df = Seq((9L, "video", mp4)).toDF("doc_id", "media_type", "media")
    val out = Multimodal.extractFeatures(spark, df).collect().head
    assert(out.width == 640 && out.n_frames == 240)
  }

  test("multimodal: BMFF largesize and to-EOF boxes decode real metadata") {
    // ISO 14496-12 §4.2: size==1 carries a 64-bit largesize after the
    // type (mandatory past 4 GiB — mdat in any real video); size==0
    // runs to the end of the enclosing scope. A probe that bails on
    // either silently hands real large media to the stub.
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ typ.getBytes("ISO-8859-1") ++ payload
    def largeBox(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(1L) ++ typ.getBytes("ISO-8859-1") ++
        be32(0L) ++ be32(payload.length + 16L) ++ payload // 64-bit size
    def eofBox(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(0L) ++ typ.getBytes("ISO-8859-1") ++ payload // runs to EOF
    val tkhd = box("tkhd",
      new Array[Byte](4 + 72) ++ be32(1280L << 16) ++ be32(720L << 16))
    val stsz = box("stsz", new Array[Byte](4) ++ be32(0L) ++ be32(360L))
    val trak = box("trak",
      tkhd ++ box("mdia", box("minf", box("stbl", stsz))))
    // moov as a LARGESIZE box
    val mp4Large = box("ftyp", "isom0000".getBytes("ISO-8859-1")) ++
      largeBox("moov", trak)
    val rl = Multimodal.ImageIoCodec.decode(
      Multimodal.MediaRow(30L, "video", mp4Large))
    assert(rl.width == 1280 && rl.height == 720 && rl.n_frames == 360)
    // moov as the final TO-EOF box
    val mp4Eof = box("ftyp", "isom0000".getBytes("ISO-8859-1")) ++
      eofBox("moov", trak)
    val re = Multimodal.ImageIoCodec.decode(
      Multimodal.MediaRow(31L, "video", mp4Eof))
    assert(re.width == 1280 && re.height == 720 && re.n_frames == 360)
    // a truncated largesize header still falls to the stub, not a throw
    val cut = Multimodal.MediaRow(32L, "video",
      be32(1L) ++ "moov".getBytes("ISO-8859-1") ++ be32(0L))
    assert(Multimodal.ImageIoCodec.decode(cut) ==
      Multimodal.StubCodec.decode(cut))
  }

  test("quality-retention dedup keeps the best copy, not the first") {
    // ids 1..3 share a fingerprint (same normalized text); id 2 is the
    // highest-quality rendering... all identical after normalization —
    // so build the group from DIFFERENT texts with equal fingerprints?
    // fingerprints differ per text, so instead: group = same text; the
    // policy must still pick deterministically (equal quality → lowest
    // id). A second group has a genuinely cleaner member with a HIGHER
    // id, which min-id dedup would discard.
    val docs = Seq(
      (1L, "same words here exactly"),
      (2L, "same  words   here exactly"), // normalizes identically
      (3L, "same words here exactly"),
      // group 2: one junky copy (id 10) vs one clean long copy (id 11)
      (10L, "@@@@ #### $$$$ %%%% ^^^^"),
      (11L, "the quick brown fox jumps over the lazy dog and it is fine"))
      .toDF("doc_id", "text")
    val out = operators.Dedup.keepBestQuality(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("keep_id") ->
        (r.getAs[Long]("n_dups"), r.getAs[Double]("quality"))).toMap
    // group 1: equal quality, keeper = lowest id
    assert(out.contains(1L) && out(1L)._1 == 3L)
    assert(!out.contains(2L) && !out.contains(3L))
    // singletons keep themselves
    assert(out.contains(10L) && out.contains(11L))
    assert(out(11L)._2 > out(10L)._2)
  }

  test("mixture resample thins to target shares deterministically") {
    val docs = (1L to 1000L).map(i =>
      (i, if (i % 10 < 7) "en" else if (i % 10 < 9) "de" else "fr"))
      .toDF("doc_id", "lang") // 700 en / 200 de / 100 fr
    val out = operators.Curation.mixtureResample(docs, "doc_id", "lang",
      Map("en" -> 300000L, "de" -> 300000L)).collect()
    val byLang = out.groupBy(_.getAs[String]("lang"))
    // fr absent from the target map: dropped entirely
    assert(!byLang.contains("fr"))
    // en rate = min(1e6, 3e5*1000/700) = 428571 ppm → ~300 of 700 kept
    val enRate = byLang("en").head.getAs[Long]("rate_ppm")
    assert(enRate == 300000L * 1000L / 700L)
    assert(math.abs(byLang("en").length - 300) < 60)
    // de under target (300 wanted, 200 present): passes whole
    assert(byLang("de").head.getAs[Long]("rate_ppm") == 1000000L)
    assert(byLang("de").length == 200)
    // reproducible: second run identical
    val again = operators.Curation.mixtureResample(docs, "doc_id", "lang",
      Map("en" -> 300000L, "de" -> 300000L)).collect()
    assert(again.map(_.toSeq).toSet == out.map(_.toSeq).toSet)
  }

  test("near-dup clustering collapses transitive chains to one survivor") {
    // A≈B≈C chain (A and C differ more) must form ONE cluster
    val chain = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),   // ≈ 1
      (3L, "alpha beta gamma delta epsilon zeta mu iota"),    // ≈ 2
      (4L, "totally unrelated words about something else entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.nearDupClusters(chain, "doc_id", "text",
        n = 3, threshold = 0.5, maxDf = 100)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((1L, false)))
    assert(out(3L) == ((1L, false)))
    assert(out(4L) == ((4L, true)))
  }

  test("sequence packing equals the global-window formulation") {
    import org.apache.spark.sql.expressions.Window
    // deliberately scrambled input partitioning: the two-pass prefix
    // sum must restore GLOBAL id order before accumulating
    val corpus = (1L to 200L).map(i =>
      (i, Seq.fill((i % 7).toInt + 1)("tok").mkString(" ")))
      .toDF("doc_id", "text").repartition(7)
    val got = TrainingSet.packSequences(corpus, "doc_id", "text", seqLen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val cum0 = coalesce(sum(col("n_tokens")).over(
      Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    val want = corpus
      .select(col("doc_id"),
        operators.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (cum0 / 10).cast("long").as("seq_id"),
        (cum0 % 10).as("seq_offset"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == want)
    assert(got.forall { case (_, _, _, off) => off >= 0 && off < 10 })
    assert(got.exists { case (id, _, sq, off) => id == 1L && sq == 0L && off == 0L })
    // regression: Verify writes through .coalesce(1), which recomputes
    // every parent partition inside ONE task (partition id 0) — a
    // TaskContext-keyed offset lookup silently restarts the running sum
    // at each parent-partition boundary under that plan
    val coalesced = TrainingSet.packSequences(corpus, "doc_id", "text",
        seqLen = 10).coalesce(1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(coalesced == want)
  }

  test("shard shuffle is seed-deterministic with contiguous positions") {
    val corpus = (1L to 300L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def run(seed: String) = TrainingSet.shardShuffle(corpus, "doc_id", seed, 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val a = run("s7")
    assert(a == run("s7"))                       // reproducible
    assert(a.map(_._1).size == 300)              // every doc placed once
    assert(a.forall { case (_, sh, _) => sh >= 0 && sh < 8 })
    // positions are 1..n within each shard, no gaps
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3) == (1L to rows.size).toSet)
    }
    // a different seed is an independent reshuffle (some doc moves)
    val b = run("s8")
    assert(a != b)
  }

  test("int8 quantization bounds error by scale/2 and keeps zeros zero") {
    val vecs = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),          // zero vector: scale 0
      (3L, Seq(127.0f, -127.0f, 63.5f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Int](2))).toMap
    assert(out(2L) == ((0.0, Seq(0, 0, 0, 0))))
    val (s1, q1) = out(1L)
    assert(s1 == 1.0 / 127.0)
    assert(q1 == Seq(64, -127, 32, 0))            // round(0.5*127)=64 (HALF_UP)
    assert(out(3L)._2 == Seq(127, -127, 64, 1))
    // dequantization error ≤ scale/2 per component
    Seq(0.5f, -1.0f, 0.25f, 0.0f).zip(q1).foreach { case (x, q) =>
      assert(math.abs(x - q * s1) <= s1 / 2 + 1e-12)
    }
  }

  test("length buckets conserve docs and tokens; pads stay in-bucket") {
    val corpus = (1L to 100L).map(i =>
      (i, Seq.fill(i.toInt)("t").mkString(" "))).toDF("doc_id", "text")
    val rows = TrainingSet.lengthBuckets(corpus, "doc_id", "text",
        width = 16, cap = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.values.map(_._1).sum == 100)            // every doc counted
    assert(rows.values.map(_._2).sum == (1L to 100L).sum)
    assert(rows(0L)._1 == 15 && rows(3L)._1 == 100 - 47) // overflow bucket
    assert(rows(3L)._3 == 0)                            // overflow never pads
    // bucket 0 pads doc k (k=1..15) to 16 tokens
    assert(rows(0L)._3 == (1L to 15L).map(16L - _).sum)
  }

  test("vocabulary induction ranks by frequency with token tie-break") {
    val corpus = Seq(
      (1L, "b b b a a c"),
      (2L, "a d d")
    ).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(corpus, "text", topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // a and b tie at 3 → token order breaks it; d (2) third; c cut
    assert(v.toSeq == Seq(("a", 3L, 1L), ("b", 3L, 2L), ("d", 2L, 3L)))
  }

  test("funnel counts stage progression strictly in order") {
    // u1 completes in order; u2 clicks BEFORE viewing (click must not
    // count) then never purchases after re-clicking; u3 views only
    val ev = Seq(
      (1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"), (1L, 30L, 3L, "purchase"),
      (2L, 10L, 4L, "click"), (2L, 20L, 5L, "view"), (2L, 25L, 6L, "purchase"),
      (3L, 10L, 7L, "view")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val r = Temporal.funnel(ev, "user_id", "ts", "event_id", "event_type",
      Seq("view", "click", "purchase")).collect().head
    // n_view = 3 users; n_click = 1 (only u1 clicked after viewing);
    // n_purchase = 1 (u2's purchase lacks an in-order click before it)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 1L, 1L)))
  }

  test("length percentiles interpolate exactly per group") {
    // group g: lengths 1..10 tokens -> p50 = 5.5, p90 = 9.1
    val corpus = (1 to 10).map(i =>
      ("g", Seq.fill(i)("t").mkString(" "))).toDF("lang", "text")
    val r = Curation.lengthPercentiles(corpus, "text", Seq("lang"))
      .collect().head
    assert(r.getLong(1) == 10L)
    assert(r.getDouble(2) == 5.5 && r.getDouble(3) == 9.1)
  }

  test("tfidf stats: exact tf/df/n counts per (doc, token)") {
    val corpus = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfStats(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == Map(
      (1L, "a") -> ((2L, 1L, 2L)),
      (1L, "b") -> ((1L, 2L, 2L)),
      (2L, "b") -> ((1L, 2L, 2L)),
      (2L, "c") -> ((1L, 1L, 2L))))
    // the consumer-side weight: rare token outweighs common at equal tf
    val w = corpus.sparkSession.range(1).select(
      TextAnalysis.tfIdfWeight(lit(1L), lit(1L), lit(2L)).as("rare"),
      TextAnalysis.tfIdfWeight(lit(1L), lit(2L), lit(2L)).as("common"))
      .collect().head
    assert(w.getDouble(0) > w.getDouble(1))
  }

  test("PII redaction scrubs emails, IPs, and phone runs") {
    val r = Seq(
      (1L, "mail me at jane.doe+x@example.co.uk today"),
      (2L, "server at 10.0.255.7 is down"),
      (3L, "call +1 (555) 867-5309 now"),
      (4L, "nothing sensitive here")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), Curation.redactPii(col("text")).as("t"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == "mail me at <EMAIL> today")
    assert(r(2L) == "server at <IP> is down")
    assert(r(3L) == "call <PHONE> now")
    assert(r(4L) == "nothing sensitive here")
  }

  test("multimodal: MJPEG AVI frames decode to real pixels") {
    // a genuine MJPEG-in-AVI built in-memory: 4 solid-color JPEG
    // frames in a RIFF 'movi' list plus a real avih header
    def putLe(a: Array[Byte], o: Int, v: Int): Unit = {
      a(o) = (v & 0xff).toByte; a(o + 1) = ((v >> 8) & 0xff).toByte
      a(o + 2) = ((v >> 16) & 0xff).toByte; a(o + 3) = ((v >> 24) & 0xff).toByte
    }
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val hdr = new Array[Byte](8)
      id.getBytes("ISO-8859-1").copyToArray(hdr)
      putLe(hdr, 4, payload.length)
      hdr ++ payload ++
        (if ((payload.length & 1) == 1) Array[Byte](0) else Array.empty[Byte])
    }
    def list(ltype: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", ltype.getBytes("ISO-8859-1") ++ body)
    def jpeg(color: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 6; x <- 0 until 8) img.setRGB(x, y, color)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val frames = Seq(0xff0000, 0x00ff00, 0x0000ff, 0x000000).map(jpeg)
    val avih = new Array[Byte](56)
    putLe(avih, 16, 4); putLe(avih, 32, 8); putLe(avih, 36, 6)
    val avi = chunk("RIFF", "AVI ".getBytes("ISO-8859-1") ++
      list("hdrl", chunk("avih", avih)) ++
      list("movi", frames.map(f => chunk("00dc", f)).reduce(_ ++ _)))

    // container walk finds all 4 frame chunks
    assert(Multimodal.MjpegFrames.frameChunks(avi).get.size == 4)
    // the metadata chain reads the same container (m-gate compat)
    val meta = Multimodal.VideoCodec.tryDecode(
      Multimodal.MediaRow(1L, "video", avi)).get
    assert(meta.width == 8 && meta.height == 6 && meta.n_frames == 4)
    // every 2nd frame ACTUALLY decoded: real per-frame geometry and a
    // raster signature that distinguishes the red and blue frames
    val dec = Multimodal.MjpegFrames.tryDecodeFrames(
      Multimodal.MediaRow(1L, "video", avi), stride = 2).get
    assert(dec.map(_.frame_idx) == Seq(0, 2))
    assert(dec.forall(f => f.width == 8 && f.height == 6 && f.decoded))
    assert(dec(0).frame_sig != dec(1).frame_sig)
    // a non-JPEG frame chunk poisons the claim: whole payload falls back
    val bad = chunk("RIFF", "AVI ".getBytes("ISO-8859-1") ++
      list("movi", chunk("00dc", "not a jpeg frame".getBytes)))
    assert(Multimodal.MjpegFrames.tryDecodeFrames(
      Multimodal.MediaRow(2L, "video", bad), 1).isEmpty)
    // distributed path: the MJPEG row decodes, a text-bytes video row
    // falls back to the metadata-derived rows with decoded=false
    val df = Seq(
      (1L, "video", avi),
      (2L, "video", "plain text payload".getBytes)
    ).toDF("doc_id", "media_type", "media")
    val out = Multimodal.decodeFrameSamples(spark, df, stride = 2)
      .collect().groupBy(_.doc_id)
    assert(out(1L).forall(_.decoded) && out(1L).length == 2)
    assert(out(2L).forall(f => !f.decoded && f.frame_sig == 0L))
    val stubFrames = Multimodal.StubCodec.decode(Multimodal.MediaRow(
      2L, "video", "plain text payload".getBytes)).n_frames
    assert(out(2L).length == Range(0, stubFrames, 2).length)
  }

  test("multimodal: real resize rescales decoded pixels; stub path shares the geometry formula") {
    // a genuine 40x30 PNG bounds to 10x7 (floor(30*10/40)); the output
    // is a real re-encoded PNG whose pixels decode back at 10x7
    val png = Multimodal.MediaFixtures.png(40, 30, seed = 3L)
    val df = Seq(
      (1L, "image", png),
      (2L, "image", "not an image".getBytes)
    ).toDF("doc_id", "media_type", "media")
    val out = Multimodal.resizeImages(spark, df, maxSide = 10)
      .collect().map(r => r.doc_id -> r).toMap
    assert(out(1L).width == 10 && out(1L).height == 7 && out(1L).resized)
    assert(out(1L).n_bytes > 0)
    // the stub path bounds STUB geometry through the same formula
    val f = Multimodal.StubCodec.decode(
      Multimodal.MediaRow(2L, "image", "not an image".getBytes))
    val (ew, eh) = Multimodal.boundedDims(f.width, f.height, 10)
    assert(out(2L).width == ew && out(2L).height == eh && !out(2L).resized)
    assert(out(2L).n_bytes == Multimodal.StubCodec.resizedBytes(f, 10))
    // already-small images pass through unscaled
    val small = Multimodal.MediaFixtures.png(8, 6, seed = 4L)
    val one = Multimodal.resizeImages(spark,
      Seq((3L, "image", small)).toDF("doc_id", "media_type", "media"), 10)
      .collect().head
    assert(one.width == 8 && one.height == 6 && one.resized)
  }

  test("multimodal: PCM features decode exact sample stats") {
    val wav = Multimodal.MediaFixtures.wavPcm(64, seed = 7L)
    val df = Seq(
      (1L, "audio", wav),
      (2L, "audio", "not audio".getBytes)
    ).toDF("doc_id", "media_type", "media")
    val out = Multimodal.pcmFeatures(spark, df)
      .collect().map(r => r.doc_id -> r).toMap
    val samples = (0 until 64).map(Multimodal.MediaFixtures.pcmSample(7L, _))
    assert(out(1L).decoded && out(1L).n_samples == 64L)
    assert(out(1L).peak == samples.map(math.abs).max)
    assert(out(1L).sum_sq == samples.map(v => v.toLong * v).sum)
    // non-decodable audio: metadata fallback with zeroed amplitude
    assert(!out(2L).decoded && out(2L).n_samples == 1L &&
      out(2L).peak == 0 && out(2L).sum_sq == 0L)
  }

  test("duplicated spans: shared windows surface, within-doc repeats don't") {
    // docs 1/2 share a long verbatim prefix (>= width) but differ at
    // the tail, so whole-doc dedup misses them; doc 3 repeats ITS OWN
    // window twice (within-doc repeat must not count as n_docs 2);
    // doc 4 is shorter than the window and must emit nothing.
    val pre = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    val d = Seq(
      (1L, pre + "ending one"),
      (2L, pre + "a different ending two"),
      (3L, (pre + pre).trim),
      (4L, "tiny")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(d, "doc_id", "text",
        width = 40, stride = 20, minDocs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // every reported span really is a window of >= 2 distinct docs
    val norm = Map(
      1L -> (pre + "ending one"),
      2L -> (pre + "a different ending two"),
      3L -> (pre + pre).trim,
      4L -> "tiny"
    ).map { case (k, v) => k -> v.trim.toLowerCase.replaceAll("\\s+", " ") }
    out.foreach { case (span, nDocs, firstDoc) =>
      val holders = norm.filter { case (_, t) =>
        Range.inclusive(0, math.max(t.length - 40, -1), 20)
          .exists(i => t.length >= 40 && t.substring(i, i + 40) == span)
      }.keySet
      assert(holders.size.toLong == nDocs && holders.min == firstDoc, span)
    }
    // doc 3's self-repeated window is NOT reported on its own
    assert(out.forall(_._2 >= 2))
  }

  test("incremental dedup equals the plain anti-join; bloom path stays exact") {
    val history = Seq(
      (1L, "seen before one"), (2L, "seen before two"),
      (3L, "seen before three")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "seen  BEFORE one"),   // dup of 1 modulo normalization
      (11L, "genuinely new doc a"),
      (12L, "genuinely new doc b"),
      (13L, "seen before three")   // exact dup of 3
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNew(batch, history, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(11L, 12L))
    // tiny fpp saturation: an undersized filter still returns the
    // exact answer (false positives are confirmed away by the join)
    val out2 = Dedup.incrementalNew(batch, history, "doc_id", "text",
      expectedItems = 1L, fpp = 0.5).collect().map(_.getLong(0)).toSet
    assert(out2 == Set(11L, 12L))
  }

  test("incremental dedup: same-path history rewrite invalidates the bloom memo") {
    // the filter memo keys on planKey = plan hash + input-file listing;
    // rewriting the history at the SAME path mints new part files, so
    // the second call must rebuild rather than serve yesterday's filter
    // (which would bloom-skip rows the new history no longer contains)
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_rewrite")
      .toString
    val batch = Seq((10L, "doc one"), (11L, "doc two")).toDF("doc_id", "text")
    Seq((1L, "doc one")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val h1 = spark.read.parquet(dir)
    val out1 = Dedup.incrementalNew(batch, h1, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(out1 == Set(11L)) // "doc one" is history
    Seq((1L, "doc two")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val h2 = spark.read.parquet(dir)
    val out2 = Dedup.incrementalNew(batch, h2, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(out2 == Set(10L), "stale memoized bloom filter served after rewrite")
  }

  test("bloom probe projection agrees with the filter it wraps") {
    import graft.functions.GraphdFunctions.bloom_probe
    val vals = (0 until 1000).map(i => s"fp_$i")
    val df = vals.toDF("fp")
    val bf = df.stat.bloomFilter("fp", 1000, 0.01)
    // all present values MUST probe true (no false negatives)
    val present = df.select(bloom_probe(col("fp"), bf).as("m"))
      .collect().map(_.getBoolean(0))
    assert(present.forall(identity))
    // absent values probe mostly false (fpp 1% — allow generous slack)
    val absent = (0 until 1000).map(i => s"zz_$i").toDF("fp")
      .select(bloom_probe(col("fp"), bf).as("m"))
      .collect().count(_.getBoolean(0))
    assert(absent < 100, s"$absent false positives of 1000 at fpp=0.01")
  }

  test("incremental dedup: partitioned sketch engages past the size gate, stays exact") {
    // force the gate: a 1-bit single-filter budget rejects every real
    // sketch, and a 32-bit bucket budget splits it into several buckets
    System.setProperty("graft.bloom.maxSingleBits", "1")
    System.setProperty("graft.bloom.bucketBits", "32")
    try {
      val history = Seq(
        (1L, "seen before one"), (2L, "seen before two"),
        (3L, "seen before three"), (4L, "seen before four"),
        (5L, "seen before five"), (6L, "seen before six"),
        (7L, "seen before seven"), (8L, "seen before eight")
      ).toDF("doc_id", "text")
      val batch = Seq(
        (10L, "seen  BEFORE one"),    // dup modulo normalization
        (11L, "genuinely new doc a"),
        (12L, "genuinely new doc b"),
        (13L, "seen before three"),   // exact dup
        (14L, null.asInstanceOf[String]) // null fp: anti-join keeps it
      ).toDF("doc_id", "text")
      val before = Dedup.partitionedBloomBuilds.get()
      val memoBefore = Dedup.bucketBloomMemo.size
      val out = Dedup.incrementalNew(batch, history, "doc_id", "text")
        .collect().map(_.getLong(0)).toSet
      assert(out == Set(11L, 12L, 14L))
      assert(Dedup.partitionedBloomBuilds.get() > before,
        "size gate did not route to the partitioned path")
      assert(Dedup.bucketBloomMemo.size == memoBefore + 1)
      // second batch against the SAME history reuses the persisted
      // bucket-filter table (no new memo entry) and stays exact
      val batch2 = Seq(
        (20L, "seen before five"), (21L, "another brand new doc")
      ).toDF("doc_id", "text")
      val out2 = Dedup.incrementalNew(batch2, history, "doc_id", "text")
        .collect().map(_.getLong(0)).toSet
      assert(out2 == Set(21L))
      assert(Dedup.bucketBloomMemo.size == memoBefore + 1,
        "repeat batch rebuilt the bucket sketch instead of reusing it")
      // bucket tables are localCheckpointed, never registered with the
      // cache manager: evicting one from the memo has nothing to unpersist
      val tbl = Dedup.buildBucketFilters(Seq("a", "b").toDF("fp"), 2, 1L,
        0.01, fullHistory = false)
      val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
      assert(cm.lookupCachedData(
        tbl.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty)
    } finally {
      System.clearProperty("graft.bloom.maxSingleBits")
      System.clearProperty("graft.bloom.bucketBits")
    }
  }

  test("bloom memo evicts by total bytes, not entry count") {
    import org.apache.spark.util.sketch.BloomFilter
    def mk(n: Long) = BloomFilter.create(n, 0.01)
    val perFilterBytes = mk(10000L).bitSize() / 8 // ~12 KB each
    val memo = new Memo[Int, BloomFilter](perFilterBytes * 3 + 16,
      _.bitSize / 8)
    (0 until 8).foreach(i => memo.getOrElseUpdate(i, mk(10000L)))
    assert(memo.total <= perFilterBytes * 3 + 16,
      s"memo holds ${memo.total} bytes over its budget")
    assert(memo.size < 8 && memo.size >= 1)
    // the most recent entry survived (access-ordered eviction)
    val f7 = mk(1L)
    assert(memo.getOrElseUpdate(7, f7) ne f7)
  }

  test("frameChunks survives a corrupt chunk size near 2^31") {
    // RIFF/AVI header followed by one chunk whose size field would
    // overflow Int in `o + 8 + sz` — the walk must return cleanly
    // (metadata fallback), not throw from a negative offset
    val b = new Array[Byte](64)
    def put(o: Int, s: String): Unit =
      s.getBytes("ISO-8859-1").copyToArray(b, o)
    def putLe(o: Int, v: Long): Unit = {
      b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
      b(o + 2) = ((v >> 16) & 0xff).toByte; b(o + 3) = ((v >> 24) & 0xff).toByte
    }
    put(0, "RIFF"); putLe(4, 56); put(8, "AVI ")
    put(12, "LIST"); putLe(16, 0x7ffffff0L); put(20, "movi")
    val chunks = Multimodal.MjpegFrames.frameChunks(b)
    assert(chunks.exists(_.isEmpty))
    // and the full decode path falls back rather than failing the task
    val media = Seq(Multimodal.MediaRow(1L, "video", b)).toDF()
    val rows = Multimodal.decodeFrameSamples(spark, media, stride = 1)
      .collect()
    assert(rows.forall(!_.decoded))
  }

  test("video decoder SPI hook: provider engages, crashes fall back, absence is stub-identical") {
    val fakePayload = ("FAKE" + "x" * 60).getBytes("ISO-8859-1") // 4 frames
    val media = Seq(Multimodal.MediaRow(7L, "video", fakePayload)).toDF()
    // no provider: metadata fallback, decoded=false
    val stub = Multimodal.decodeFrameSamples(spark, media, stride = 1).collect()
    assert(stub.nonEmpty && stub.forall(!_.decoded))
    try {
      // a crashing provider ahead of the good one must not fail the
      // task OR mask the good provider
      System.setProperty("graft.video.decoderClass",
        "graft.ExplodingVideoDecoder,graft.FakeVideoDecoder")
      val out = Multimodal.decodeFrameSamples(spark, media, stride = 1)
        .collect().sortBy(_.frame_idx)
      assert(out.length == 4)
      assert(out.forall(f => f.decoded && f.doc_id == 7L &&
        f.width == 320 && f.height == 240))
      // MJPEG stays FIRST in the chain: a real MJPEG AVI still decodes
      // through the built-in walker even with providers installed
      val avi = Seq(Multimodal.MediaRow(8L, "video",
        Multimodal.MediaFixtures.mjpegAvi(3, 24, 16, 8L))).toDF()
      val mj = Multimodal.decodeFrameSamples(spark, avi, stride = 1).collect()
      assert(mj.forall(f => f.decoded && f.width != 320))
      // crashing provider ALONE: clean metadata fallback
      System.setProperty("graft.video.decoderClass",
        "graft.ExplodingVideoDecoder")
      val crashed = Multimodal.decodeFrameSamples(spark, media, stride = 1)
        .collect()
      assert(crashed.map(f => (f.frame_idx, f.width, f.height, f.decoded))
        .toSeq == stub.map(f => (f.frame_idx, f.width, f.height, f.decoded))
        .toSeq)
    } finally System.clearProperty("graft.video.decoderClass")
  }

  test("pcm features decode non-16-bit payloads through format conversion") {
    import javax.sound.sampled._
    // 8-bit unsigned mono WAV, 6 frames with a known peak
    val fmt8 = new AudioFormat(8000f, 8, 1, false, false)
    val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false)
    assume(AudioSystem.isConversionSupported(target, fmt8),
      "JRE lacks 8->16-bit PCM conversion")
    val vals: Array[Int] = Array(128, 255, 0, 128, 200, 60) // unsigned bytes
    val bytes = vals.map(_.toByte)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt8, vals.length)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val media = Seq(Multimodal.MediaRow(2L, "audio", bos.toByteArray)).toDF()
    val out = Multimodal.pcmFeatures(spark, media).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.decoded, "conversion path did not engage")
    assert(r.n_samples == 6L)
    // 8-bit unsigned 255/0 are full-scale: the 16-bit peak lands at
    // ~32640 (127<<8) up to 32768 depending on the converter's scaling
    assert(r.peak >= (120 << 8) && r.peak <= 32768, s"peak ${r.peak}")
    assert(r.sum_sq > 0L)
  }

  test("pcm features report FRAMES for stereo payloads (same unit as fallback)") {
    import javax.sound.sampled._
    // 4 stereo frames = 8 16-bit values, little-endian
    val vals: Array[Short] = Array(100, -200, 300, -400, 500, -600, 700, -800)
    val bytes = new Array[Byte](vals.length * 2)
    vals.zipWithIndex.foreach { case (v, i) =>
      bytes(2 * i) = (v & 0xff).toByte
      bytes(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 2, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, vals.length / 2)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val media = Seq(Multimodal.MediaRow(1L, "audio", bos.toByteArray)).toDF()
    val out = Multimodal.pcmFeatures(spark, media).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.decoded)
    assert(r.n_samples == 4L, s"expected 4 frames, got ${r.n_samples}")
    // amplitude stats still span ALL channel values
    assert(r.peak == 800)
    assert(r.sum_sq == vals.map(v => v.toLong * v).sum)
  }
}
