package graft

import graft.operators.{Pipeline, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-prep pipeline tests: invariants over sf0.001 + planted fixtures. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = TestSpark.Sf0001
  private def docs = Tables.documents(spark, dir)

  /** The operators' split rule, re-derived independently for fixtures. */
  private def splitOf(id: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    hex.last match {
      case 'c' | 'd' => "val"
      case 'e' | 'f' => "test"
      case _         => "train"
    }
  }

  test("hashSplit covers every doc exactly once with a stable, near-12/2/2 assignment") {
    val got = Pipeline.hashSplit(docs).cache()
    assert(got.count() == docs.count())
    val bySplit = got.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    // 12/16 expected for train; allow generous slack on the small sf
    assert(bySplit("train").toDouble / got.count() > 0.55)
    // deterministic: a second evaluation is row-identical
    assert(Pipeline.hashSplit(docs).exceptAll(got).isEmpty)
    got.unpersist()
  }

  test("vocabTopK: ranks are 1..k, counts non-increasing, top word matches a manual count") {
    val got = Pipeline.vocabTopK(docs, k = 20).orderBy("rank").as[(String, Long, Long)].collect()
    assert(got.length == 20)
    assert(got.map(_._3).toSeq == (1L to 20L))
    assert(got.map(_._2).sliding(2).forall(p => p.head >= p.last))
    val manualTop = docs.select(explode(split($"text", " ")).as("w"))
      .groupBy("w").count().orderBy($"count".desc, $"w").head()
    assert(got.head._1 == manualTop.getString(0) && got.head._2 == manualTop.getLong(1))
  }

  test("redactPii removes every planted email/phone and counts them") {
    val planted = docs.limit(10).withColumn("text",
      concat($"text", lit(" reach me at a.b-c_1@mail.example.org or 555-0142 x")))
    val got = Pipeline.redactPii(planted).cache()
    assert(got.filter($"n_emails" < 1 || $"n_phones" < 1).isEmpty)
    assert(got.filter($"text_redacted".rlike(Pipeline.EmailPattern)).isEmpty)
    assert(got.filter($"text_redacted".rlike(Pipeline.PhonePattern)).isEmpty)
    assert(got.filter(!$"text_redacted".contains("<EMAIL>") ||
      !$"text_redacted".contains("<PHONE>")).isEmpty)
    got.unpersist()
  }

  test("redactPii counts match the emitted text: a phone-shaped span inside a matched email is neither counted nor replaced") {
    val fixture = Seq((1L, "call 555-0142 or mail bob555-0142@ex.com now")).toDF("doc_id", "text")
    val r = Pipeline.redactPii(fixture).head()
    assert(r.getAs[Long]("n_emails") == 1L)
    assert(r.getAs[Long]("n_phones") == 1L) // only the standalone span
    val redacted = r.getAs[String]("text_redacted")
    assert(redacted == "call <PHONE> or mail <EMAIL> now")
    assert("<PHONE>".r.findAllIn(redacted).length == r.getAs[Long]("n_phones"))
  }

  test("decontaminate broadcast is size-guarded: over the row bound it plans a shuffle equi-join") {
    // planner-initiated broadcasts off, so a BroadcastHashJoin can only
    // come from the operator's own hint — isolates the guard under test
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val guarded = Pipeline.decontaminate(docs, n = 5, broadcastMaxRows = 0L)
      assert(!guarded.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
        "guard tripped but the plan still broadcasts")
      // results are identical on either side of the guard
      val hinted = Pipeline.decontaminate(docs, n = 5)
      assert(hinted.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
        "small test side should take the broadcast hint")
      assert(guarded.exceptAll(hinted).isEmpty && hinted.exceptAll(guarded).isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("quantizeEmbeddings: positive scale, q_l1 ≤ 127·dim, zero vector gets scale 1") {
    val emb = Tables.embeddings(spark, dir)
    val dim = emb.select(size($"embedding")).as[Int].head()
    val got = Pipeline.quantizeEmbeddings(emb).cache()
    assert(got.filter($"scale" <= 0.0).isEmpty)
    assert(got.filter($"q_l1" > 127L * dim).isEmpty)
    got.unpersist()
    val zero = Seq((1L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding")
    val z = Pipeline.quantizeEmbeddings(zero).as[(Long, Double, Long)].head()
    assert(z._2 == 1.0 && z._3 == 0L)
  }

  test("corpusStats matches direct aggregates") {
    val st = Pipeline.corpusStats(docs).head()
    assert(st.getAs[Long]("n_docs") == docs.count())
    val totalTokens = docs.select(sum(size(split($"text", " ")))).as[Long].head()
    assert(st.getAs[Long]("total_tokens") == totalTokens)
    assert(st.getAs[Double]("p50_tokens") <= st.getAs[Double]("p90_tokens"))
    assert(st.getAs[Double]("p90_tokens") <= st.getAs[Double]("p99_tokens"))
  }

  test("qualityFilterDedup keeps only dedup keepers inside the token bounds") {
    val got = Pipeline.qualityFilterDedup(docs, minTokens = 5L, maxTokens = 100L).cache()
    assert(got.filter($"n_tokens" < 5 || $"n_tokens" > 100).isEmpty)
    val keepers = graft.operators.Dedup.exact(docs).select($"keep_id".as("doc_id"))
    assert(got.join(keepers, Seq("doc_id"), "left_anti").isEmpty)
    got.unpersist()
  }

  test("decontaminate flags exactly the train docs sharing an n-gram with test (planted)") {
    // pick ids on each side of the split rule
    val trainIds = (0L to 200L).filter(splitOf(_) == "train")
    val testId = (0L to 200L).find(splitOf(_) == "test").get
    val leak = "zq1 zq2 zq3 zq4 zq5" // a 5-gram that exists nowhere else
    val fixture = Seq(
      (trainIds(0), s"clean train doc with no overlap at all here one"),
      (trainIds(1), s"contaminated because it contains $leak embedded inside"),
      (testId, s"benchmark question text $leak answer choices follow")
    ).toDF("doc_id", "text")
    val got = Pipeline.decontaminate(fixture, n = 5).as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(trainIds(1)))
    assert(got(trainIds(1)) >= 1L)
  }

  test("contaminationReport: identical texts make every test doc hit every train doc on both grams") {
    val ids = (0L to 300L)
    val trainIds = ids.filter(splitOf(_) == "train").take(5)
    val testIds = ids.filter(splitOf(_) == "test").take(3)
    // 6 tokens, n=5 → exactly 2 distinct grams per doc, shared corpus-wide
    val fixture = (trainIds ++ testIds).map((_, "a b c d e f")).toDF("doc_id", "text")
    val got = Pipeline.contaminationReport(fixture, n = 5)
      .as[(Long, Long, Long)].collect()
      .map { case (id, nDocs, nHits) => id -> ((nDocs, nHits)) }.toMap
    assert(got.keySet == testIds.toSet)
    testIds.foreach { t =>
      assert(got(t) == ((trainIds.size.toLong, 2L * trainIds.size)))
    }
    graft.operators.Dedup.releaseCaches(spark)
  }

  test("decontaminateBloom ≡ decontaminate: the bloom prune plus exact verify loses nothing") {
    val exact = Pipeline.decontaminate(docs, n = 5)
    // a deliberately high fpp floods the verify join with false positives —
    // the exact join must still remove every one of them
    val bloom = Pipeline.decontaminateBloom(docs, n = 5, fpp = 0.5)
    assert(bloom.exceptAll(exact).isEmpty && exact.exceptAll(bloom).isEmpty)
    graft.operators.Dedup.releaseCaches(spark)
  }

  test("bernoulliSample is deterministic, respects p ordering, and never invents rows") {
    val s25 = Pipeline.bernoulliSample(docs, 0.25).cache()
    val s50 = Pipeline.bernoulliSample(docs, 0.50).cache()
    assert(Pipeline.bernoulliSample(docs, 0.25).exceptAll(s25).isEmpty) // stable
    assert(s25.join(s50, Seq("doc_id"), "left_anti").isEmpty) // monotone: p=.25 ⊆ p=.5
    assert(s25.join(docs, Seq("doc_id"), "left_anti").isEmpty)
    val (n25, n50, n) = (s25.count(), s50.count(), docs.count())
    assert(n25 < n50 && n50 < n) // strict at these sizes
    s25.unpersist(); s50.unpersist()
  }

  test("stratifiedSample applies each stratum's own rate") {
    val fr = Map("src0" -> 1.0, "src1" -> 0.0)
    val got = Pipeline.stratifiedSample(docs, fr, defaultFraction = 0.25).cache()
    // rate-1.0 stratum keeps everything, rate-0 stratum keeps nothing
    assert(got.filter($"source" === "src0").count() ==
      docs.filter($"source" === "src0").count())
    assert(got.filter($"source" === "src1").isEmpty)
    // default strata: kept iff the same doc survives a plain 0.25 Bernoulli
    val bern = Pipeline.bernoulliSample(docs, 0.25)
      .filter(!$"source".isin("src0", "src1"))
    assert(got.filter(!$"source".isin("src0", "src1")).exceptAll(bern).isEmpty)
    got.unpersist()
  }

  test("packSequences: per-bucket offsets replay the running token total; budget bounds hold") {
    val budget = 128L
    val got = Pipeline.packSequences(docs, budgetTokens = budget, numBuckets = 4).cache()
    assert(got.count() == docs.count())
    assert(got.filter($"tok_offset" < 0 || $"tok_offset" >= budget).isEmpty)
    assert(got.filter($"seq_id" < 0).isEmpty)
    // first doc of every bucket starts sequence 0 at offset 0
    val firsts = got.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy($"bucket").orderBy($"doc_id")))
      .filter($"rn" === 1)
    assert(firsts.filter($"seq_id" =!= 0L || $"tok_offset" =!= 0L).isEmpty)
    // global position = seq_id*budget + tok_offset must be non-decreasing per bucket
    val eps = got.withColumn("pos", $"seq_id" * budget + $"tok_offset")
      .withColumn("prev", lag($"pos", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"bucket").orderBy($"doc_id")))
      .filter($"prev".isNotNull && $"pos" < $"prev")
    assert(eps.isEmpty)
    got.unpersist()
  }

  test("globalOrderShards: two-phase bucketed rank ≡ naive global row_number; shard = pos / size") {
    import org.apache.spark.sql.expressions.Window
    val got = Pipeline.globalOrderShards(docs, shardSize = 7L)
    val naive = docs
      .select($"doc_id", md5($"doc_id".cast("string")).as("h"))
      .withColumn("pos", (row_number().over(Window.orderBy($"h", $"doc_id")) - 1).cast("bigint"))
      .select($"doc_id", $"pos", floor($"pos" / 7L).cast("bigint").as("shard"))
    assert(got.except(naive).isEmpty && naive.except(got).isEmpty)
    // pos is a permutation of 0..n-1
    val n = docs.count()
    assert(got.agg(min($"pos"), max($"pos"), countDistinct($"pos")).as[(Long, Long, Long)].head()
      == ((0L, n - 1, n)))
  }

  test("curriculumOrder: two-phase rank ≡ naive (stage, h) row_number; stages contiguous") {
    import org.apache.spark.sql.expressions.Window
    val stage = when($"n_chars" < 225, 0).when($"n_chars" < 390, 1).otherwise(2)
    val got = Pipeline.curriculumOrder(docs, stage, shardSize = 7L)
    val naive = docs
      .select($"doc_id", stage.cast("bigint").as("stage"),
        md5($"doc_id".cast("string")).as("h"))
      .withColumn("pos",
        (row_number().over(Window.orderBy($"stage", $"h", $"doc_id")) - 1).cast("bigint"))
      .select($"doc_id", $"stage", $"pos", floor($"pos" / 7L).cast("bigint").as("shard"))
    assert(got.except(naive).isEmpty && naive.except(got).isEmpty)
    // pos is a permutation of 0..n-1 and stage is non-decreasing along it
    val n = docs.count()
    assert(got.agg(min($"pos"), max($"pos"), countDistinct($"pos")).as[(Long, Long, Long)].head()
      == ((0L, n - 1, n)))
    val regress = got.withColumn("prev",
        lag($"stage", 1).over(Window.orderBy($"pos")))
      .filter($"prev".isNotNull && $"stage" < $"prev")
    assert(regress.isEmpty, "a later position regressed to an earlier stage")
  }

  test("packingReport: totals conserved, fill ≤ 1, n_seqs matches packSequences") {
    val rep = Pipeline.packingReport(docs).cache()
    assert(rep.agg(sum($"n_docs")).as[Long].head() == docs.count())
    assert(rep.filter($"fill_frac" > 1.0 || $"fill_frac" <= 0.0).isEmpty)
    assert(rep.filter($"n_split_docs" > $"n_docs").isEmpty)
    // n_seqs agrees with the actual packed layout: the last doc of each
    // bucket ends at cum tokens = total, so max seq touched = ceil-1 when
    // the final sequence is partial
    val packed = Pipeline.packSequences(docs)
      .join(docs.select($"doc_id",
        size(split($"text", " ")).cast("bigint").as("n_toks")), "doc_id")
      .withColumn("end_seq",
        floor(($"seq_id" * 512 + $"tok_offset" + $"n_toks" - 1) / 512.0).cast("bigint"))
      .groupBy($"bucket").agg((max($"end_seq") + 1L).as("n_seqs_packed"))
    val mism = rep.join(packed, "bucket").filter($"n_seqs" =!= $"n_seqs_packed")
    assert(mism.isEmpty, mism.collect().mkString(","))
    rep.unpersist()
  }

  test("CorpusPrep end-to-end: stage counts monotone, shards complete and loadable") {
    val out = java.nio.file.Files.createTempDirectory("graft-prep").toString
    val r = graft.apps.CorpusPrep.run(spark, docs, out)
    assert(r.ingested > 0)
    // each stage only ever drops rows
    assert(r.qualityKept <= r.ingested && r.spanKept <= r.qualityKept &&
      r.exactKept <= r.spanKept && r.nearDupKept <= r.exactKept &&
      r.decontaminated <= r.nearDupKept)
    // decontaminated counts PRE-split; the train split then drops val/test
    assert(r.trainRows <= r.decontaminated) // packing is 1:1 per doc
    assert(r.trainRows > 0 && r.shardsWritten > 0)
    // the written shards hold exactly the surviving rows with pack metadata
    val back = spark.read.parquet(out)
    assert(back.count() == r.trainRows)
    assert(Seq("doc_id", "pos", "shard", "seq_id", "tok_offset")
      .forall(back.columns.contains))
  }

  test("writeTrainingShards manifest agrees with the written shards per shard and in total") {
    val out = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    Pipeline.writeTrainingShards(docs, out, shardSize = 64)
    val manifest = Pipeline.readShardManifest(spark, out)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val back = spark.read.parquet(out)
      .groupBy($"shard".cast("bigint").as("shard"))
      .agg(count(lit(1)).as("n"),
        sum(size(graft.functions.Funcs.tokens($"text")).cast("bigint")).as("t"),
        min($"pos").as("lo"), max($"pos").as("hi"))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(manifest == back)
    assert(manifest.values.map(_._1).sum == docs.count())
    // pos ranges tile the corpus without overlap
    val ranges = manifest.toSeq.sortBy(_._1).map { case (_, (_, _, lo, hi)) => (lo, hi) }
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(lo2 == hi1 + 1)
      case _                       => ()
    }
  }

  test("decontaminateNearDup flags the train doc that near-duplicates a test-split doc") {
    // derive split membership from the SAME md5 rule the operator uses
    def splitOf(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      h.last match {
        case 'c' | 'd' => "val"
        case 'e' | 'f' => "test"
        case _         => "train"
      }
    }
    val testId = (1L to 100L).find(i => splitOf(i) == "test").get
    val leakId = (1L to 100L).find(i => splitOf(i) == "train").get
    val otherId = (1L to 100L).filter(i => splitOf(i) == "train").find(_ != leakId).get
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val paraphrase = (1 to 40).map(i => if (i == 20) "EDITED" else s"w$i").mkString(" ")
    val docs = Seq(
      (testId, base), //        the held-out doc
      (leakId, paraphrase), //  train doc: near-dup but NOT exact-n-gram-identical
      (otherId, (1 to 40).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val got = Pipeline.decontaminateNearDup(docs, threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(leakId -> 1L))
  }

  test("CorpusPrep.run accepts a pluggable quality gate and the stage counts reflect it") {
    import org.apache.spark.sql.DataFrame
    val out = java.nio.file.Files.createTempDirectory("graft-prep-gate").toString
    // the documented Gopher-composite shape, thresholds loosened so the
    // synthetic corpus passes every rule except the even-id restriction
    // added on top — the gate is pluggable, not just the length filter
    val gate: DataFrame => DataFrame = d => d
      .join(TextAnalysis.gopherFilter(d, minTokens = 1L, maxTokens = 1000000L,
          minMeanTokLen = 0.0, maxMeanTokLen = 1e9, maxTopUnigramFrac = 1.0,
          maxDupTokenFrac = 1.0, minStopwords = 0L)
        .filter(col("keep") === 1).select("doc_id"), Seq("doc_id"))
      .filter(col("doc_id") % 2 === 0)
    val r = graft.apps.CorpusPrep.run(spark, docs, out, gate = Some(gate))
    assert(r.qualityKept == docs.filter(col("doc_id") % 2 === 0).count(),
      "custom gate was not the one applied")
    assert(r.qualityKept < r.ingested) // it actually gated
    assert(r.spanKept <= r.qualityKept && r.exactKept <= r.spanKept &&
      r.nearDupKept <= r.exactKept && r.trainRows > 0 && r.shardsWritten > 0)
  }

  test("CorpusPrep pre-hook: HTML extraction before normalization reproduces the plain-text run") {
    val out1 = java.nio.file.Files.createTempDirectory("graft-prep-plain").toString
    val out2 = java.nio.file.Files.createTempDirectory("graft-prep-html").toString
    val plain = graft.apps.CorpusPrep.run(spark, docs, out1)
    // tag-only wrapper: extraction must recover byte-identical text
    val wrapped = docs.withColumn("text",
      concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")))
    val viaHtml = graft.apps.CorpusPrep.run(spark, wrapped, out2,
      pre = Some(d => d.drop("text").join(
        TextAnalysis.stripHtml(d).select(col("doc_id"), col("text_plain").as("text")),
        Seq("doc_id"))))
    assert(viaHtml == plain, s"pre-hook run diverged: $viaHtml vs $plain")
  }

  test("streamIncremental: file-stream drains drive the store; restart picks up only new drops") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-stream-incr")
    val inDir = s"$tmp/in"; val store = s"$tmp/store"; val store2 = s"$tmp/store2"
    val ckpt = s"$tmp/ckpt"
    Files.createDirectories(Paths.get(inDir))
    val ddl = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, source STRING, lang STRING")
    def drop(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(s"$inDir/$name"), lines.mkString("\n").getBytes("UTF-8"))
    def jl(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","source":"s0","lang":"en"}"""
    val b1 = Seq(jl(1, "alpha beta gamma delta epsilon"), jl(2, "one two three four five six"))
    val b2 = Seq(jl(3, "fresh words seven eight nine ten"),
      jl(1, "alpha beta gamma delta epsilon")) // exact dup of stored d1
    drop("b1.jsonl", b1)
    graft.apps.CorpusPrep.streamIncremental(spark, inDir, ddl, store, ckpt)
      .awaitTermination() // AvailableNow: drain existing files, stop
    drop("b2.jsonl", b2)
    graft.apps.CorpusPrep.streamIncremental(spark, inDir, ddl, store, ckpt)
      .awaitTermination() // restart: only b2 is new to the checkpoint
    // an immediate restart with no new drops applies nothing
    graft.apps.CorpusPrep.streamIncremental(spark, inDir, ddl, store, ckpt)
      .awaitTermination()
    // equivalent direct drive of the same two batches into a fresh store
    def asDf(lines: Seq[String]) = {
      import spark.implicits._
      spark.read.schema(ddl).json(lines.toDS)
    }
    graft.apps.CorpusPrep.runIncremental(spark, asDf(b1), store2)
    graft.apps.CorpusPrep.runIncremental(spark, asDf(b2), store2)
    val viaStream = graft.apps.CorpusPrep.readShards(spark, store)
      .select($"doc_id", $"text").orderBy($"doc_id").collect().toSeq
    val direct = graft.apps.CorpusPrep.readShards(spark, store2)
      .select($"doc_id", $"text").orderBy($"doc_id").collect().toSeq
    assert(viaStream == direct, s"streamed store diverged: $viaStream vs $direct")
    assert(viaStream.map(_.getLong(0)) == Seq(1L, 2L, 3L)) // dup d1 rejected
  }

  test("runIncremental: exact + signature dedup vs the store, replay idempotent, positions continue") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-incr")
    val store = s"$tmp/store"
    def writeJsonl(name: String, lines: Seq[String]): String = {
      val p = Paths.get(s"$tmp/$name")
      Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
      p.toString
    }
    val ddl = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, source STRING, lang STRING")
    // d2 = exact dup of d1 (in batch); d3 = token PERMUTATION of d1 —
    // different fingerprint, identical simhash (the sketch is a ±1 sum
    // over tokens, order-free); d6 fails the 5-token gate
    val batch1 = writeJsonl("b1.jsonl", Seq(
      """{"doc_id":1,"text":"alpha beta gamma delta epsilon zeta","source":"s0","lang":"en"}""",
      """{"doc_id":2,"text":"alpha beta gamma delta epsilon zeta","source":"s0","lang":"en"}""",
      """{"doc_id":3,"text":"zeta epsilon delta gamma beta alpha","source":"s0","lang":"en"}""",
      """{"doc_id":4,"text":"one two three four five six","source":"s1","lang":"en"}""",
      """{"doc_id":5,"text":"seven eight nine ten eleven twelve","source":"s1","lang":"en"}""",
      """{"doc_id":6,"text":"tiny","source":"s1","lang":"en"}"""))
    val r1 = graft.apps.CorpusPrep.runIncremental(spark,
      graft.sources.Sources.jsonl(spark, batch1, ddl), store)
    assert(r1 == graft.apps.CorpusPrep.IncrementalReport(6, 5, 4, 3, 3))
    val after1 = graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id", "pos", "shard").as[(Long, Long, Long)].collect().sorted.toSeq
    assert(after1.map(_._1).toSet == Set(1L, 4L, 5L))
    assert(after1.map(_._2).toSet == Set(0L, 1L, 2L))
    // replay the SAME batch: only d3's fp is still unseen (it was
    // sig-rejected, so its fingerprint never entered the accepted store),
    // nothing is accepted, shards byte-identical
    val r2 = graft.apps.CorpusPrep.runIncremental(spark,
      graft.sources.Sources.jsonl(spark, batch1, ddl), store)
    assert(r2 == graft.apps.CorpusPrep.IncrementalReport(6, 5, 1, 0, 3))
    val after2 = graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id", "pos", "shard").as[(Long, Long, Long)].collect().sorted.toSeq
    assert(after2 == after1, "replay mutated the shards")
    // batch 2: d7 = exact dup of stored d1 (fp store hit), d8 novel —
    // d8 takes the next position after the stored corpus
    val batch2 = writeJsonl("b2.jsonl", Seq(
      """{"doc_id":7,"text":"alpha beta gamma delta epsilon zeta","source":"s0","lang":"en"}""",
      """{"doc_id":8,"text":"red orange yellow green blue indigo","source":"s2","lang":"en"}"""))
    val r3 = graft.apps.CorpusPrep.runIncremental(spark,
      graft.sources.Sources.jsonl(spark, batch2, ddl), store)
    assert(r3 == graft.apps.CorpusPrep.IncrementalReport(2, 2, 1, 1, 4))
    val after3 = graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    assert(after3.keySet == Set(1L, 4L, 5L, 8L) && after3(8L) == 3L)
  }

  test("store retraction: readers exclude from commit, all four claim stores release, compaction drops physically, tombstones consumed") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-retr")
    val store = s"$tmp/store"
    val ddl = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, source STRING, lang STRING")
    def writeJsonl(name: String, docs: Seq[(Long, String)]): String = {
      val p = Paths.get(s"$tmp/$name")
      Files.write(p, docs.map { case (id, t) =>
        s"""{"doc_id":$id,"text":"$t","source":"s0","lang":"en"}""" }
        .mkString("\n").getBytes("UTF-8"))
      p.toString
    }
    def ingest(path: String) = graft.apps.CorpusPrep.runIncremental(spark,
      graft.sources.Sources.jsonl(spark, path, ddl), store)
    val text2 = "orange violet crimson amber teal maroon"
    ingest(writeJsonl("b1.jsonl", Seq(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> text2,
      3L -> "one two three four five six",
      4L -> "seven eight nine ten eleven twelve")))
    ingest(writeJsonl("b2.jsonl", Seq(
      5L -> "red yellow green blue indigo pink",
      6L -> "monday tuesday wednesday thursday friday saturday")))
    // retract 2 and 5 (takedown); the same set again is a replay no-op;
    // an empty set is refused
    assert(graft.apps.CorpusPrep.retract(spark, store, Seq(2L, 5L).toDF("doc_id")))
    assert(!graft.apps.CorpusPrep.retract(spark, store, Seq(5L, 2L, 2L).toDF("doc_id")),
      "a logically-identical retraction set must be a replay no-op")
    assert(!graft.apps.CorpusPrep.retract(spark, store, Seq.empty[Long].toDF("doc_id")))
    // read-path exclusion BEFORE any compaction, shards and sidecar both
    assert(graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L, 6L))
    assert(graft.apps.CorpusPrep.readAttributes(spark, store)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L, 6L))
    // claims RELEASE: doc 7 re-ingests doc 2's EXACT text after the
    // takedown and must be accepted afresh — a hit on any of the four
    // claim stores (fp exact, sig simhash, mh bands, all keyed by the
    // retracted keeper) would silently dedup new content against text
    // the store no longer serves
    val r3 = ingest(writeJsonl("b3.jsonl", Seq(7L -> text2)))
    assert(r3.accepted == 1L, s"re-ingest after retraction was deduped: $r3")
    assert(graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L, 6L, 7L))
    // compaction folds the three data batches, drops retracted rows
    // PHYSICALLY from every relation, and consumes the tombstones
    assert(graft.apps.CorpusPrep.compactStore(spark, store) == 3)
    val dirs = graft.sources.BatchStore.committedDirs(spark, store)
    assert(dirs.size == 1)
    def rawIds(rel: String, idCol: String): Set[Long] =
      spark.read.parquet(s"${dirs.head}/$rel").select(idCol).as[Long].collect().toSet
    assert(rawIds("shards", "doc_id") == Set(1L, 3L, 4L, 6L, 7L),
      "retracted docs must be physically absent from the compacted shards")
    assert(rawIds("attrs", "doc_id") == Set(1L, 3L, 4L, 6L, 7L))
    assert(rawIds("fp", "keep_id") == Set(1L, 3L, 4L, 6L, 7L))
    assert(rawIds("sig", "keep_id") == Set(1L, 3L, 4L, 6L, 7L))
    assert(rawIds("mh", "keep_id") == Set(1L, 3L, 4L, 6L, 7L))
    assert(graft.sources.BatchStore.readTombstones(spark, store).count() == 0L,
      "compaction must consume the tombstone batches")
    // the reader sees the same corpus before and after the physical drop
    assert(graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L, 6L, 7L))
    // positions are a high-water mark: doc 7 continued after the
    // PRE-retraction total (holes stay holes, nothing is renumbered)
    assert(graft.apps.CorpusPrep.readShards(spark, store)
      .filter($"doc_id" === 7L).select("pos").as[Long].head() == 6L)
    // after consumption, the SAME id set retracts again as a fresh batch
    // (content-hash name no longer committed) — and is harmless
    assert(graft.apps.CorpusPrep.retract(spark, store, Seq(2L, 5L).toDF("doc_id")))
    assert(graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L, 6L, 7L))
  }

  test("tombstone-free stores read with UNCHANGED plans — the retraction anti-join appears only once a retraction lands") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-retr-plan")
    val store = s"$tmp/store"
    val ddl = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, source STRING, lang STRING")
    val p = Paths.get(s"$tmp/b.jsonl")
    Files.write(p, Seq(
      """{"doc_id":1,"text":"alpha beta gamma delta epsilon zeta","source":"s0","lang":"en"}""",
      """{"doc_id":2,"text":"one two three four five six","source":"s0","lang":"en"}""")
      .mkString("\n").getBytes("UTF-8"))
    graft.apps.CorpusPrep.runIncremental(spark,
      graft.sources.Sources.jsonl(spark, p.toString, ddl), store)
    // the zero-retraction plan carries NO anti-join — the common case
    // pays nothing for the tombstone capability
    val before = graft.apps.CorpusPrep.readShards(spark, store)
      .queryExecution.optimizedPlan.toString
    assert(!before.contains("LeftAnti"), s"tombstone-free read grew a join:\n$before")
    assert(graft.apps.CorpusPrep.retract(spark, store, Seq(2L).toDF("doc_id")))
    val after = graft.apps.CorpusPrep.readShards(spark, store)
      .queryExecution.optimizedPlan.toString
    assert(after.contains("LeftAnti"), s"retraction did not add the exclusion join:\n$after")
    // and the exclusion side BROADCASTS — STRUCTURALLY (the explicit
    // hint in BatchStore.readTombstones), not by the planner's size
    // estimate: with autoBroadcastJoinThreshold=-1 a BroadcastHashJoin
    // can only come from the hint, so this pin holds for takedown sets
    // past the ~10 MB threshold too, where the estimate alone would
    // silently degrade every reader to sort-merge-joining the corpus
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.apps.CorpusPrep.readShards(spark, store)
      assert(df.select("doc_id").as[Long].collect().toSet == Set(1L))
      val executed = df.queryExecution.executedPlan.toString
      assert(executed.contains("LeftAnti") && executed.contains("BroadcastHashJoin"),
        s"retraction anti-join did not broadcast from the hint alone:\n$executed")
      // the attributes-sidecar reader holds the same contract
      val attrs = graft.apps.CorpusPrep.readAttributes(spark, store)
      val attrsPlan = attrs.queryExecution.executedPlan.toString
      assert(attrsPlan.contains("LeftAnti") && attrsPlan.contains("BroadcastHashJoin"),
        s"attributes retraction anti-join did not broadcast from the hint alone:\n$attrsPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("retractWhere: a predicate takedown (by source) excludes and releases like an id retraction") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-retr-where")
    val store = s"$tmp/store"
    val ddl = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, source STRING, lang STRING")
    val p = Paths.get(s"$tmp/b.jsonl")
    Files.write(p, Seq(
      """{"doc_id":1,"text":"alpha beta gamma delta epsilon zeta","source":"s0","lang":"en"}""",
      """{"doc_id":2,"text":"one two three four five six","source":"s1","lang":"en"}""",
      """{"doc_id":3,"text":"seven eight nine ten eleven twelve","source":"s1","lang":"en"}""",
      """{"doc_id":4,"text":"red orange yellow green blue indigo","source":"s2","lang":"en"}""")
      .mkString("\n").getBytes("UTF-8"))
    graft.apps.CorpusPrep.runIncremental(spark,
      graft.sources.Sources.jsonl(spark, p.toString, ddl), store)
    // "source s1 revoked robots" — the takedown shape, one distributed scan
    assert(graft.apps.CorpusPrep.retractWhere(spark, store, $"source" === "s1"))
    assert(graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
    // the same predicate again selects the SAME already-excluded set —
    // nothing matches the reader anymore, so nothing new to retract
    assert(!graft.apps.CorpusPrep.retractWhere(spark, store, $"source" === "s1"))
    assert(!graft.apps.CorpusPrep.retractWhere(spark, store, $"source" === "zzz"))
    // the inventory view shows the pending retraction and its size
    val inv = graft.apps.CorpusPrep.describeStore(spark, store)
      .select($"kind", $"accepted", $"retracted").as[(String, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(inv == Seq(("data", 4L, 0L), ("retraction", 0L, 2L)), s"got $inv")
    // after compaction the inventory folds to ONE compacted batch, the
    // tombstones consumed; meta keeps the position high-water mark
    assert(graft.apps.CorpusPrep.compactStore(spark, store) == 1)
    val inv2 = graft.apps.CorpusPrep.describeStore(spark, store)
      .select($"kind", $"accepted", $"retracted").as[(String, Long, Long)]
      .collect().toSeq
    assert(inv2 == Seq(("compacted", 4L, 0L)), s"got $inv2")
  }

  test("retractWhere: a sidecar-predicate takedown (attributes columns) excludes, and mixes with shard columns") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-retr-attrs")
    val store = s"$tmp/store"
    val ddl = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, source STRING, lang STRING")
    val p = Paths.get(s"$tmp/b.jsonl")
    // doc 1: 3 tokens, doc 2: 6 tokens, doc 3: 8 tokens, doc 4: 6 tokens
    Files.write(p, Seq(
      """{"doc_id":1,"text":"alpha beta gamma","source":"s0","lang":"en"}""",
      """{"doc_id":2,"text":"one two three four five six","source":"s1","lang":"en"}""",
      """{"doc_id":3,"text":"seven eight nine ten eleven twelve thirteen fourteen","source":"s1","lang":"en"}""",
      """{"doc_id":4,"text":"red orange yellow green blue indigo","source":"s2","lang":"en"}""")
      .mkString("\n").getBytes("UTF-8"))
    graft.apps.CorpusPrep.runIncremental(spark,
      graft.sources.Sources.jsonl(spark, p.toString, ddl), store, minTokens = 1)
    // n_tokens lives ONLY in the attributes sidecar — the predicate
    // space is the shard+sidecar join, so classifier-level takedowns
    // ("everything scored over X") need no bespoke scan
    assert(graft.apps.CorpusPrep.retractWhere(spark, store, $"n_tokens" >= 7))
    assert(graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    // and the sidecar reader excludes the retracted doc's attributes row
    assert(graft.apps.CorpusPrep.readAttributes(spark, store)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    // MIXED predicate: one sidecar column AND one shard column in the
    // same takedown ("6+ tokens from source s1")
    assert(graft.apps.CorpusPrep.retractWhere(spark, store,
      $"n_tokens" >= 6 && $"source" === "s1"))
    assert(graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
    // physical drop carries the sidecar with it
    assert(graft.apps.CorpusPrep.compactStore(spark, store) == 1)
    assert(graft.apps.CorpusPrep.readAttributes(spark, store)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
  }

  test("retraction between streaming micro-batches: the next ingest honors released claims, readers exclude") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-retr-stream")
    val inDir = Files.createDirectory(Paths.get(s"$tmp/in")).toString
    val store = s"$tmp/store"
    val ckpt = s"$tmp/ckpt"
    val ddl = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, source STRING, lang STRING")
    val textA = "alpha beta gamma delta epsilon zeta"
    def drop(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(s"$inDir/$name"), lines.mkString("\n").getBytes("UTF-8"))
    def jl(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","source":"s0","lang":"en"}"""
    drop("b1.jsonl", Seq(jl(1, textA), jl(2, "one two three four five six")))
    graft.apps.CorpusPrep.streamIncremental(spark, inDir, ddl, store, ckpt)
      .awaitTermination() // AvailableNow: drain, stop
    // takedown lands between micro-batches (the single-writer cadence)
    assert(graft.apps.CorpusPrep.retract(spark, store, Seq(1L).toDF("doc_id")))
    // the next micro-batch re-ingests the retracted doc's EXACT text under
    // a new id — accepted afresh because every claim store released
    drop("b2.jsonl", Seq(jl(3, textA), jl(4, "seven eight nine ten eleven twelve")))
    graft.apps.CorpusPrep.streamIncremental(spark, inDir, ddl, store, ckpt)
      .awaitTermination()
    assert(graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id").as[Long].collect().toSet == Set(2L, 3L, 4L))
  }

  test("runIncremental: banded-minhash store rejects a NEAR-dup (edited, sig-distinct) later-batch doc; replay no-op") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-mh")
    val store = s"$tmp/store"
    val ddl = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, source STRING, lang STRING")
    val toks = (1 to 100).map(i => s"tok$i")
    val orig = toks.mkString(" ")
    // two edits far apart: Jaccard ≈ 0.89 — near-dup but NOT identical
    val edited = toks.updated(10, "EDITa").updated(80, "EDITb").mkString(" ")
    def writeJsonl(name: String, docs: Seq[(Long, String)]): String = {
      val p = Paths.get(s"$tmp/$name")
      Files.write(p, docs.map { case (id, t) =>
        s"""{"doc_id":$id,"text":"$t","source":"s0","lang":"en"}""" }
        .mkString("\n").getBytes("UTF-8"))
      p.toString
    }
    def ingest(path: String) = graft.apps.CorpusPrep.runIncremental(spark,
      graft.sources.Sources.jsonl(spark, path, ddl), store)
    val rA = ingest(writeJsonl("a.jsonl",
      Seq(1L -> orig, 2L -> "completely different words here now")))
    assert(rA.accepted == 2L)
    // the edit flips the simhash (normalizeText lowercases; use the same
    // normal form), so the EXACT-sig stage alone cannot reject it — the
    // rejection below provably comes from the banded-minhash stage
    val sigs = Seq(orig, edited).toDF("text")
      .select(graft.functions.Native.simhash(
        graft.functions.Funcs.tokens(lower($"text")))).as[Long].collect()
    assert(sigs(0) != sigs(1), "edit did not change the simhash; fixture is too weak")
    val rB = ingest(writeJsonl("b.jsonl",
      Seq(3L -> edited, 4L -> "another novel unrelated document entirely")))
    assert(rB.novelExact == 2L, "edited doc should pass the exact-fp stage")
    assert(rB.accepted == 1L, "edited near-dup must be rejected by the band store")
    assert(rB.totalStored == 3L)
    assert(graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    // replay of batch B: doc 4's fp is stored, doc 3 is re-rejected — no-op
    val rB2 = ingest(writeJsonl("b2.jsonl",
      Seq(3L -> edited, 4L -> "another novel unrelated document entirely")))
    assert(rB2.accepted == 0L && rB2.totalStored == 3L)
  }

  test("compactStore supersedes its sources atomically; readers and growth are unaffected") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-compact")
    val store = s"$tmp/store"
    val ddl = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, source STRING, lang STRING")
    def ingest(name: String, docs: Seq[(Long, String)]) = {
      val p = Paths.get(s"$tmp/$name")
      Files.write(p, docs.map { case (id, t) =>
        s"""{"doc_id":$id,"text":"$t","source":"s0","lang":"en"}""" }
        .mkString("\n").getBytes("UTF-8"))
      graft.apps.CorpusPrep.runIncremental(spark,
        graft.sources.Sources.jsonl(spark, p.toString, ddl), store)
    }
    ingest("a.jsonl", Seq(1L -> "alpha beta gamma delta epsilon zeta"))
    ingest("b.jsonl", Seq(2L -> "one two three four five six"))
    val r3 = ingest("c.jsonl", Seq(3L -> "seven eight nine ten eleven twelve"))
    assert(r3.totalStored == 3L)
    val before = graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id", "pos").as[(Long, Long)].collect().toSet
    // keep sources on disk: the supersede manifest alone must hide them
    assert(graft.apps.CorpusPrep.compactStore(spark, store, gc = false) == 3)
    val after = graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id", "pos").as[(Long, Long)].collect().toSet
    assert(after == before, "compaction changed the visible corpus")
    // exactly one ACTIVE batch now, even with sources still present
    assert(new java.io.File(s"$store/batches").listFiles().count(_.isDirectory) == 4)
    assert(graft.apps.CorpusPrep.compactStore(spark, store) == 0) // nothing left to fold
    // growth continues against the compacted store: dedup still sees old
    // fps (replay no-op) and positions continue after the stored corpus
    val rReplay = ingest("a2.jsonl", Seq(1L -> "alpha beta gamma delta epsilon zeta"))
    assert(rReplay.accepted == 0L && rReplay.totalStored == 3L)
    val r4 = ingest("d.jsonl", Seq(9L -> "red orange yellow green blue indigo"))
    assert(r4.accepted == 1L && r4.totalStored == 4L)
    assert(graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap.apply(9L) == 3L)
    // crash before the compacted commit: originals stay authoritative
    val batches = new java.io.File(s"$store/batches").listFiles().filter(_.isDirectory)
    val compacted = batches.find(_.getName.startsWith("c_")).get
    assert(new java.io.File(compacted, "_COMMIT").delete())
    val fallback = graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id").as[Long].collect().toSet
    assert(fallback == Set(1L, 2L, 3L, 9L), "uncommitted compaction must fall back to sources")
  }

  test("runIncremental: a crashed partial append is invisible and the retry repairs it") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("graft-crash")
    val store = s"$tmp/store"
    val ddl = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, source STRING, lang STRING")
    val lines = Seq(
      """{"doc_id":1,"text":"alpha beta gamma delta epsilon zeta","source":"s0","lang":"en"}""",
      """{"doc_id":2,"text":"one two three four five six","source":"s1","lang":"en"}""")
    val p = Paths.get(s"$tmp/b.jsonl")
    Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    def ingest() = graft.apps.CorpusPrep.runIncremental(spark,
      graft.sources.Sources.jsonl(spark, p.toString, ddl), store)
    val r1 = ingest()
    assert(r1.accepted == 2L && r1.totalStored == 2L)
    // simulate a crash between the shards write and the fp write: the
    // batch dir exists with shards but no fp and NO _COMMIT marker
    val batchDir = new java.io.File(s"$store/batches").listFiles().head
    assert(new java.io.File(batchDir, "_COMMIT").delete())
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRf)
      f.delete()
    }
    rmRf(new java.io.File(batchDir, "fp"))
    // readers see an empty (zero-committed-batch) store, not partial state
    intercept[IllegalArgumentException] {
      graft.apps.CorpusPrep.readShards(spark, store)
    }
    // the retry of the byte-identical batch lands on the same batch id,
    // overwrites the partial attempt, and commits — state as if the crash
    // never happened
    val r2 = ingest()
    assert(r2.accepted == 2L && r2.totalStored == 2L)
    val back = graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id", "pos").as[(Long, Long)].collect().toMap
    assert(back == Map(1L -> 0L, 2L -> 1L) ||
      back == Map(1L -> 1L, 2L -> 0L))
    // and a further replay is a no-op
    val r3 = ingest()
    assert(r3.accepted == 0L && r3.totalStored == 2L)
  }

  // ---- ingest equivalence trace ------------------------------------------
  // Three batches with a retraction between the second and third; each
  // ingest stage drops at least one doc: the token gate (4), an in-batch
  // exact copy (2), a token permutation in-batch (3) and against the store
  // (14) — same simhash, different fingerprint —, a stored exact copy (11),
  // a minhash near-dup of a stored doc (12, two edits of 5), and re-ingests
  // of retracted text (21, 22). Docs 6 and 13 share a line and 7 and 15
  // differ only in markup, so the line-dedup and `pre` variants drop more.
  // The pinned reports and digests were recorded from the earlier,
  // count-based ingest.

  private val mhText = (1 to 100).map(i => s"tok$i")
  private val traceBatches: Seq[Seq[(Long, String)]] = Seq(
    Seq(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "zeta epsilon delta gamma beta alpha",
      4L -> "tiny doc",
      5L -> mhText.mkString(" "),
      6L -> "one two three four five six\nseven eight nine ten eleven twelve",
      7L -> "<p>red orange yellow green blue indigo</p>",
      8L -> "monday tuesday wednesday thursday friday saturday"),
    Seq(
      11L -> "alpha beta gamma delta epsilon zeta",
      12L -> mhText.updated(10, "EDITa").updated(80, "EDITb").mkString(" "),
      13L -> "seven eight nine ten eleven twelve\nthirteen fourteen fifteen sixteen seventeen",
      14L -> "beta alpha gamma delta zeta epsilon",
      15L -> "red orange yellow green blue indigo",
      16L -> "sun moon star planet comet galaxy"),
    Seq(
      21L -> "monday tuesday wednesday thursday friday saturday",
      22L -> "sun moon star planet comet galaxy",
      23L -> "new words appear in this final batch"))

  private def batchDf(docs: Seq[(Long, String)]) =
    docs.toDF("doc_id", "text").withColumn("source", lit("s0")).withColumn("lang", lit("en"))

  private val stripTags: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    _.withColumn("text", regexp_replace($"text", "<[^>]*>", ""))

  /** Ingest the trace into a fresh store; the reports in order. */
  private def runTrace(store: String, lineLevelDedup: Boolean = false,
      pre: Option[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = None)
      : Seq[graft.apps.CorpusPrep.IncrementalReport] = {
    def ingest(docs: Seq[(Long, String)]) = graft.apps.CorpusPrep.runIncremental(
      spark, batchDf(docs), store, lineLevelDedup = lineLevelDedup, pre = pre)
    val r1 = ingest(traceBatches(0))
    val r2 = ingest(traceBatches(1))
    assert(graft.apps.CorpusPrep.retract(spark, store, Seq(8L, 16L).toDF("doc_id")))
    Seq(r1, r2, ingest(traceBatches(2)))
  }

  private def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString

  /** Per store relation, `<rows>:<digest>` over every committed batch
    * directory's rows (each row prefixed by its directory name, so a row
    * landing in another batch changes the digest); `shard_data` digests
    * the bytes of every shard parquet file up to its footer — the pages
    * with their encodings, statistics and compressed values — keyed by
    * batch and shard. The footer is left out: parquet-mr lists each column
    * chunk's encodings in hash-set order, which changes from JVM to JVM;
    * `schemas` digests the distinct Spark schemas the footers record. */
  private def storeDigests(store: String): Map[String, String] = {
    val dirs = graft.sources.BatchStore.committedDirs(spark, store).sorted
    def name(d: String) = new org.apache.hadoop.fs.Path(d).getName
    def digest(lines: Seq[String]) =
      s"${lines.size}:" + md5Hex(lines.sorted.mkString("\n").getBytes("UTF-8")).take(16)
    def rows(rel: String) = dirs
      .filter(graft.sources.BatchStore.hasRelation(spark, _, rel))
      .flatMap(d => spark.read.parquet(s"$d/$rel").collect().toSeq
        .map(r => s"${name(d)}|${r.toSeq.map {
          case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
          case v => String.valueOf(v)
        }.mkString(",")}"))
    val rels = Seq("fp", "sig", "mh", "attrs", "meta", "lfp", "shards")
    def files(d: String, rel: String): Seq[java.nio.file.Path] = {
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(d).toUri.getPath, rel))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
      } finally walk.close()
    }
    val present = for (d <- dirs; rel <- rels if graft.sources.BatchStore.hasRelation(spark, d, rel))
      yield (d, rel)
    val shardData = present.filter(_._2 == "shards").flatMap { case (d, rel) =>
      files(d, rel).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f)
        val footer = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        s"${name(d)}/${f.getParent.getFileName}|" +
          md5Hex(java.util.Arrays.copyOf(bytes, bytes.length - 8 - footer))
      }
    }
    // the Spark schema each file was written with, nullability included
    val schemas = present.flatMap { case (d, rel) =>
      files(d, rel).map { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), spark.sparkContext.hadoopConfiguration))
        try s"$rel|" + reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        finally reader.close()
      }
    }.distinct
    (rels.map(r => r -> digest(rows(r))) :+ ("shard_data" -> digest(shardData)) :+
      ("schemas" -> digest(schemas))).toMap
  }

  private def assertTrace(store: String,
      reports: Seq[graft.apps.CorpusPrep.IncrementalReport],
      expectedReports: Seq[(Long, Long, Long, Long, Long)],
      expectedDigests: Map[String, String]): Unit = {
    val got = reports.map(r => (r.batchRows, r.gated, r.novelExact, r.accepted, r.totalStored))
    val digests = storeDigests(store)
    assert(got == expectedReports)
    assert(digests == expectedDigests)
  }

  test("runIncremental trace: reports, store relations and shard bytes match the recorded values") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-trace")
    val store = s"$tmp/store"
    assertTrace(store, runTrace(store),
      Seq((8, 7, 6, 5, 5), (6, 6, 5, 3, 8), (3, 3, 3, 3, 11)),
      Map(
        "fp" -> "11:14a8f7dfb7c14e72",
        "sig" -> "11:8cbe372b4262c62c",
        "mh" -> "44:a2f72b831fa26e76",
        "attrs" -> "11:f3374a2e3fa0c1ac",
        "meta" -> "3:24926c1d0203207e",
        "lfp" -> "0:d41d8cd98f00b204",
        "shards" -> "11:a38cb6682ca932c0",
        "shard_data" -> "3:4f9f6994247d7781",
        "schemas" -> "6:d67ae6d79f1261e7"))
  }

  test("runIncremental(lineLevelDedup) trace: reports, store relations and shard bytes match the recorded values") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-trace-lines")
    val store = s"$tmp/store"
    assertTrace(store, runTrace(store, lineLevelDedup = true),
      Seq((8, 6, 6, 5, 5), (6, 5, 5, 3, 8), (3, 3, 3, 3, 11)),
      Map(
        "fp" -> "11:7adf691e2d732225",
        "sig" -> "11:c6a1cc39266107b0",
        "mh" -> "44:5c0f9f712ef27579",
        "attrs" -> "11:3df33c283e08f244",
        "meta" -> "3:24926c1d0203207e",
        "lfp" -> "12:a0523c2b4ae4b16d",
        "shards" -> "11:21fedfe886bf9ce8",
        "shard_data" -> "3:0b7c993df3aef36d",
        "schemas" -> "7:da673de87dd2e251"))
  }

  test("runIncremental(pre) trace: reports, store relations and shard bytes match the recorded values") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-trace-pre")
    val store = s"$tmp/store"
    assertTrace(store, runTrace(store, pre = Some(stripTags)),
      Seq((8, 7, 6, 5, 5), (6, 6, 4, 2, 7), (3, 3, 3, 3, 10)),
      Map(
        "fp" -> "10:f6c5c14007ce8dad",
        "sig" -> "10:4747314cc58b48c9",
        "mh" -> "40:df915c94d6c9e2b1",
        "attrs" -> "10:ed3757e28fd5557c",
        "meta" -> "3:8d749a26b3d99bbd",
        "lfp" -> "0:d41d8cd98f00b204",
        "shards" -> "10:ef63b9b209da5d91",
        "shard_data" -> "3:654df9751693d82b",
        "schemas" -> "6:d67ae6d79f1261e7"))
  }

  test("runIncremental edge batches: all gated out, an exact replay, all minhash-rejected — exact reports, no commit") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-edges")
    val store = s"$tmp/store"
    def ingest(docs: Seq[(Long, String)]) =
      graft.apps.CorpusPrep.runIncremental(spark, batchDf(docs), store)
    def commits() = new java.io.File(s"$store/batches").listFiles()
      .count(d => new java.io.File(d, "_COMMIT").exists())
    val seed = Seq(
      1L -> "alpha beta gamma delta epsilon zeta",
      5L -> mhText.mkString(" "),
      6L -> "one two three four five six")
    assert(ingest(seed) == graft.apps.CorpusPrep.IncrementalReport(3, 3, 3, 3, 3))
    assert(commits() == 1)
    // every doc fails the token gate: nothing reaches the fp grouping
    assert(ingest(Seq(31L -> "tiny", 32L -> "two words")) ==
      graft.apps.CorpusPrep.IncrementalReport(2, 0, 0, 0, 3))
    // an exact replay: every fingerprint is stored, no candidate survives
    assert(ingest(seed) == graft.apps.CorpusPrep.IncrementalReport(3, 3, 0, 0, 3))
    // novel fingerprints and simhashes, but every candidate's minhash
    // bands hit doc 5 at agreement ≥ 0.8
    assert(ingest(Seq(
      41L -> mhText.updated(10, "EDITa").updated(80, "EDITb").mkString(" "),
      42L -> mhText.updated(50, "EDITc").mkString(" "))) ==
      graft.apps.CorpusPrep.IncrementalReport(2, 2, 2, 0, 3))
    assert(commits() == 1, "a batch that accepts nothing must not commit")
    assert(graft.apps.CorpusPrep.readShards(spark, store)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 5L, 6L))
  }

  test("runIncremental leaves no persisted RDD behind: two ingests and a failed write add none to the session") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-leak")
    val store = s"$tmp/store"
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def added = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    graft.apps.CorpusPrep.runIncremental(spark, batchDf(traceBatches(0)), store,
      lineLevelDedup = true, pre = Some(stripTags))
    val Array(batchName) = new java.io.File(s"$store/batches").list()
    graft.apps.CorpusPrep.runIncremental(spark, batchDf(traceBatches(1)), store)
    assert(added.isEmpty, s"ingest left persisted RDDs: ${added.values.mkString(", ")}")
    // the first batch again, into a store whose directory for it is a plain
    // file: both checkpoints are taken, then every relation write throws
    val failing = new java.io.File(s"$tmp/failing/batches")
    assert(failing.mkdirs() && new java.io.File(failing, batchName).createNewFile())
    intercept[java.io.IOException](graft.apps.CorpusPrep.runIncremental(spark,
      batchDf(traceBatches(0)), s"$tmp/failing", lineLevelDedup = true, pre = Some(stripTags)))
    assert(!new java.io.File(failing, s"$batchName/_COMMIT").exists())
    assert(added.isEmpty, s"failed ingest left persisted RDDs: ${added.values.mkString(", ")}")
  }

  test("steady ingest into a tombstoned store: no count action, two localCheckpoints, shuffle-free relation writes, broadcast rejection anti-join") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-plan")
    val store = s"$tmp/store"
    graft.apps.CorpusPrep.runIncremental(spark, batchDf(traceBatches(0)), store)
    assert(graft.apps.CorpusPrep.retract(spark, store, Seq(8L).toDF("doc_id")))
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = actions.add(fn -> qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = actions.add(fn -> qe)
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    // size-based broadcasting off: a broadcast join below can only come
    // from the ingest's own hint, so the pin holds past the size threshold
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    val recorded = try {
      val rep = graft.apps.CorpusPrep.runIncremental(spark, batchDf(traceBatches(1)), store)
      assert(rep == graft.apps.CorpusPrep.IncrementalReport(6, 6, 5, 3, 8))
      // the listener bus delivers in order: once this marker action is
      // seen, every action of the ingest has been recorded
      Seq(1).toDF("__ingest_done").collect()
      val deadline = System.nanoTime() + 30000000000L
      def marked = { import scala.jdk.CollectionConverters._
        actions.asScala.exists(_._2.analyzed.output.exists(_.name == "__ingest_done")) }
      while (!marked && System.nanoTime() < deadline) Thread.sleep(20)
      assert(marked, "listener never saw the marker action")
      import scala.jdk.CollectionConverters._
      actions.asScala.toSeq.filterNot(_._2.analyzed.output.exists(_.name == "__ingest_done"))
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
    val fns = recorded.map(_._1)
    assert(!fns.contains("count"), s"ingest ran count actions: $fns")
    val checkpoints = recorded.filter(_._1 == "localCheckpoint")
    assert(checkpoints.size == 2, s"expected two localCheckpoints: $fns")
    val writes = recorded.flatMap { case (_, qe) =>
      qe.executedPlan.collectFirst { case w: DataWritingCommandExec => w }.flatMap { w =>
        w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => Some(i.outputPath.getName -> nodes(w.child))
          case _ => None
        }
      }
    }.toMap
    assert(Set("fp", "sig", "mh", "attrs").subsetOf(writes.keySet),
      s"writes seen: ${writes.keySet}")
    for (rel <- Seq("fp", "sig", "mh", "attrs"))
      assert(!writes(rel).exists(_.isInstanceOf[Exchange]),
        s"$rel write shuffles:\n${writes(rel).head.treeString}")
    // the accepted checkpoint drops minhash-rejected ids through a
    // broadcast left-anti join on doc_id
    val rejectionJoin = checkpoints.flatMap { case (_, qe) => nodes(qe.executedPlan) }.exists {
      case j: BroadcastHashJoinExec =>
        j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti &&
          j.leftKeys.flatMap(_.references.map(_.name)) == Seq("doc_id")
      case _ => false
    }
    assert(rejectionJoin, "no broadcast doc_id anti-join in the candidate checkpoint")
  }

  test("corpusReport: rollup levels are mutually consistent (leaves sum to subtotals sum to total)") {
    val r = Pipeline.corpusReport(docs).collect()
      .map(x => (x.getString(0), x.getString(1)) -> (x.getLong(2), x.getLong(3))).toMap
    val leaves = r.filter { case ((s, l), _) => s != "ALL" && l != "ALL" }
    val bySource = r.filter { case ((s, l), _) => s != "ALL" && l == "ALL" }
    val total = r(("ALL", "ALL"))
    assert(leaves.values.map(_._1).sum == total._1 && leaves.values.map(_._2).sum == total._2)
    assert(bySource.values.map(_._1).sum == total._1)
    // each source subtotal equals the sum of its leaves
    bySource.foreach { case ((s, _), (nd, nt)) =>
      val mine = leaves.filter { case ((ls, _), _) => ls == s }.values
      assert(mine.map(_._1).sum == nd && mine.map(_._2).sum == nt)
    }
  }

  test("corpusStatsApprox: sketches track the exact aggregates within error bounds") {
    val toks = split($"text", " ")
    val exactDocs = docs.count().toDouble
    val exactWords = docs.select(explode(toks).as("w")).distinct().count().toDouble
    val exactSources = docs.select($"source").distinct().count().toDouble
    val (p50e, p99e) = docs.select(size(toks).cast("bigint").as("n"))
      .agg(expr("percentile(n, 0.5)"), expr("percentile(n, 0.99)"))
      .as[(Double, Double)].head()
    val r = Pipeline.corpusStatsApprox(docs).head()
    def rel(a: Double, b: Double) = math.abs(a - b) / b
    assert(rel(r.getLong(0).toDouble, exactDocs) <= 0.15)     // HLL 3σ at rsd=0.05
    assert(rel(r.getLong(4).toDouble, exactWords) <= 0.15)
    assert(rel(r.getLong(1).toDouble, exactSources) <= 0.15)
    assert(rel(r.getLong(2).toDouble, p50e) <= 0.2)
    assert(rel(r.getLong(3).toDouble, p99e) <= 0.2)
  }

  test("writeTrainingShards: shard dirs partition the corpus; rows stream in pos order within files") {
    val out = java.nio.file.Files.createTempDirectory("graft-shards").toString
    Pipeline.writeTrainingShards(docs, out, shardSize = 32L)
    val back = spark.read.parquet(out)
    val n = docs.count()
    assert(back.count() == n)
    // every shard holds exactly its pos range (≤ shardSize rows each)
    assert(back.filter($"shard" =!= floor($"pos" / 32L)).isEmpty)
    val dirs = new java.io.File(out).listFiles().count(_.getName.startsWith("shard="))
    assert(dirs == ((n + 31) / 32).toInt)
    // a sequential read of any file sees pos ascending (the data-loader
    // contract). Scope the check PER FILE: a read partition may pack
    // several small shard files back-to-back, so pos legitimately jumps
    // at file boundaries — within one file it must be monotone
    import org.apache.spark.sql.expressions.Window
    val seq = back.select($"pos")
      .withColumn("rid", monotonically_increasing_id())
      .withColumn("f", input_file_name())
    val w = Window.partitionBy($"f").orderBy($"rid")
    assert(seq.withColumn("prev", lag($"pos", 1).over(w))
      .filter($"prev".isNotNull && $"prev" > $"pos").isEmpty)
  }

  test("mixtureWeights: shares sum to ~1 and weight·share = 1/#sources") {
    val got = Pipeline.mixtureWeights(docs).cache()
    val nSrc = got.count()
    val shareSum = got.agg(sum($"token_share")).as[Double].head()
    assert(math.abs(shareSum - 1.0) < 1e-3)
    val bad = got.filter(abs($"weight" * $"token_share" - lit(1.0) / nSrc) > 1e-4)
    assert(bad.isEmpty)
    got.unpersist()
  }

  test("temperatureMixture: weights sum to 1; α=1 is proportional; α<1 up-samples small domains") {
    val flat = Pipeline.temperatureMixture(docs, alpha = 0.5).cache()
    assert(math.abs(flat.agg(sum($"weight")).as[Double].head() - 1.0) < 1e-3)
    val prop = Pipeline.temperatureMixture(docs, alpha = 1.0)
    assert(prop.filter(abs($"weight" - $"token_share") > 1e-5).isEmpty)
    // at α<1 the smallest domain's weight must exceed its raw share
    val smallest = flat.orderBy($"token_share").first()
    assert(smallest.getAs[Double]("weight") > smallest.getAs[Double]("token_share"))
    flat.unpersist()
  }

  test("epochPlan: allocations sum to ~budget; epochs = allocation / available") {
    val budget = 500000L
    val got = Pipeline.epochPlan(docs, budget).cache()
    val allocated = got.agg(sum($"target_tokens")).as[Long].head()
    // per-domain rounding drift only: within #domains half-units of budget
    assert(math.abs(allocated - budget) <= got.count(), s"allocated $allocated vs $budget")
    val bad = got.filter(abs($"epochs" -
      $"target_tokens".cast("double") / $"total_tokens".cast("double")) > 1e-5)
    assert(bad.isEmpty)
    got.unpersist()
  }

  test("spanCorrupt: native loop ≡ declarative fold on the corpus") {
    val native = Pipeline.spanCorrupt(docs, ratePercent = 25)
    val decl = Pipeline.spanCorruptDeclarative(docs, ratePercent = 25)
    assert(native.except(decl).isEmpty && decl.except(native).isEmpty)
  }

  test("spanCorrupt: interleaving input and target spans reconstructs the original text") {
    val got = Pipeline.spanCorrupt(docs, ratePercent = 25)
      .join(docs.select($"doc_id", $"text"), Seq("doc_id"))
      .select($"doc_id", $"text", $"n_tokens", $"n_masked", $"n_spans",
        $"input_text", $"target_text")
      .collect()
    got.foreach { r =>
      val sentinel = "<extra_id_(\\d+)>".r
      val tgt = r.getAs[String]("target_text")
      val nSpans = r.getAs[Long]("n_spans")
      // target: spans keyed by sentinel, closed by the final sentinel
      val ids = sentinel.findAllMatchIn(tgt).map(_.group(1).toInt).toSeq
      assert(ids == (0 to nSpans.toInt), s"non-sequential sentinels in $tgt")
      val spans: Map[Int, Seq[String]] = tgt.split("<extra_id_\\d+>").toSeq
        .map(_.trim).drop(1).dropRight(if (tgt.endsWith(">")) 0 else 1)
        .zipWithIndex.map { case (s, i) => i -> s.split(" ").toSeq.filter(_.nonEmpty) }.toMap
      val rebuilt = r.getAs[String]("input_text").split(" ").toSeq.flatMap { t =>
        sentinel.findFirstMatchIn(t) match {
          case Some(m) => spans.getOrElse(m.group(1).toInt, Seq.empty)
          case None    => Seq(t)
        }
      }
      assert(rebuilt.mkString(" ") == r.getAs[String]("text"),
        s"doc ${r.getAs[Long]("doc_id")} did not reconstruct")
      assert(r.getAs[Long]("n_masked") + (r.getAs[Long]("n_tokens") - r.getAs[Long]("n_masked"))
        == r.getAs[Long]("n_tokens"))
    }
  }

  private def emptyLineStore = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    org.apache.spark.sql.types.StructType.fromDDL("fp BIGINT, keep_okey BIGINT"))

  test("lineDedupIncremental: cross-batch line claims, in-batch keep-first, replay no-op") {
    import graft.operators.Dedup
    val b1 = Seq((1L, "A\nB\nC"), (2L, "B\nD")).toDF("doc_id", "text")
    val (c1, n1, s1) = Dedup.lineDedupIncremental(b1, emptyLineStore)
    val got1 = c1.orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got1 == Seq((1L, 3L, 3L, "A\nB\nC"), (2L, 2L, 1L, "D")))
    // four distinct lines claimed; B belongs to doc 1 (keep-first by okey)
    val claims = n1.as[(Long, Long)].collect().toMap
    assert(claims.size == 4 && s1.count() == 4)
    val bFp = Seq("B").toDF("l").select(xxhash64($"l")).as[Long].head()
    assert(claims(bFp) == (1L << 32) + 1L)
    // batch 2: stored lines drop, novel lines kept; a fully-seen doc
    // keeps its row with n_kept = 0
    val b2 = Seq((3L, "C\nE"), (4L, "A\nB")).toDF("doc_id", "text")
    val (c2, n2, s2) = Dedup.lineDedupIncremental(b2, s1)
    val got2 = c2.orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got2 == Seq((3L, 2L, 1L, "E"), (4L, 2L, 0L, "")))
    assert(n2.count() == 1 && s2.count() == 5)
    // replay batch 1 against the grown store: no new claims, store
    // unchanged, every line already claimed
    val (c3, n3, s3) = Dedup.lineDedupIncremental(b1, s2)
    assert(n3.isEmpty && s3.count() == 5)
    assert(c3.agg(sum($"n_kept")).as[Long].head() == 0L)
  }

  test("runIncremental(lineLevelDedup): raw-line claims gate later batches; replay no-op; lfp store tracks accepted docs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ldd")
    val store = s"$tmp/store"
    def ingest(docs: Seq[(Long, String)]) = graft.apps.CorpusPrep.runIncremental(
      spark,
      docs.toDF("doc_id", "text")
        .withColumn("source", lit("s0")).withColumn("lang", lit("en")),
      store, minTokens = 2L, lineLevelDedup = true)
    // d2's first line duplicates d1's second → cut in-batch; survives on
    // its own second line
    val r1 = ingest(Seq(
      1L -> "alpha beta gamma\ndelta epsilon zeta",
      2L -> "delta epsilon zeta\nred orange yellow"))
    assert(r1.accepted == 2L)
    val shards1 = graft.apps.CorpusPrep.readShards(spark, store)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    // stored text is the line-cleaned then NORMALIZED form (newline → space)
    assert(shards1(1L) == "alpha beta gamma delta epsilon zeta")
    assert(shards1(2L) == "red orange yellow")
    // batch 2: d3 repeats a claimed line, survives on its novel one;
    // d4 is fully claimed → dropped by the line stage
    val r2 = ingest(Seq(
      3L -> "alpha beta gamma\nsix seven eight",
      4L -> "alpha beta gamma\ndelta epsilon zeta"))
    assert(r2.accepted == 1L)
    val shards2 = graft.apps.CorpusPrep.readShards(spark, store)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(shards2(3L) == "six seven eight")
    // replay batch 1: every line already claimed → no survivors, no new
    // batch dir, shards untouched
    val r3 = ingest(Seq(
      1L -> "alpha beta gamma\ndelta epsilon zeta",
      2L -> "delta epsilon zeta\nred orange yellow"))
    assert(r3.accepted == 0L)
    assert(graft.apps.CorpusPrep.readShards(spark, store)
      .count() == shards2.size)
    // the lfp relations carry exactly the accepted docs' novel claims:
    // b1 → d1's 2 lines + d2's 1 surviving line, b2 → d3's novel line
    val lfp = spark.read.parquet(s"$store/batches/*/lfp")
      .select($"fp", $"keep_okey").as[(Long, Long)].collect().toSeq
    assert(lfp.size == 4, s"lfp store: $lfp")
    assert(lfp.map(_._2 >> 32).groupBy(identity).view.mapValues(_.size).toMap
      == Map(1L -> 2, 2L -> 1, 3L -> 1))
  }

  test("runIncremental(pre + lineLevelDedup): C4 extraction feeds line claims — the composed streaming-ingest shape") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pre")
    val store = s"$tmp/store"
    // the documented `pre` composition: C4 line/doc rules, survivors carry
    // their cleaned text (keep re-joined so source/lang ride through)
    val c4pre: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      d => d.drop("text").join(
        TextAnalysis.c4LineFilter(d).filter($"keep" === 1)
          .select($"doc_id", $"text_clean".as("text")), Seq("doc_id"))
    def ingest(docs: Seq[(Long, String)]) = graft.apps.CorpusPrep.runIncremental(
      spark,
      docs.toDF("doc_id", "text")
        .withColumn("source", lit("s0")).withColumn("lang", lit("en")),
      store, lineLevelDedup = true, pre = Some(c4pre))
    // d2 fails every C4 line rule (short / no punct / blocklist) → cut by
    // the pre hook before any store interaction
    val b1 = Seq(
      1L -> "alpha beta gamma.\ndelta epsilon zeta.\neta theta iota.",
      2L -> "one two.\nshort\nbad javascript line here.")
    val r1 = ingest(b1)
    assert(r1.batchRows == 2L && r1.accepted == 1L)
    // d3's first line was claimed by d1 in batch 1 → line dedup cuts it;
    // the stored text is the remaining lines, normalized
    val r2 = ingest(Seq(
      3L -> "delta epsilon zeta.\nkappa lambda mu.\nnu xi omicron.\npi rho sigma."))
    assert(r2.accepted == 1L)
    val shards = graft.apps.CorpusPrep.readShards(spark, store)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(shards(1L) == "alpha beta gamma. delta epsilon zeta. eta theta iota.")
    assert(shards(3L) == "kappa lambda mu. nu xi omicron. pi rho sigma.")
    // replay either batch: every surviving line is already claimed → no-op
    assert(ingest(b1).accepted == 0L)
    assert(graft.apps.CorpusPrep.readShards(spark, store).count() == 2)
  }

  test("compactStore carries the lfp line-claim store — claims survive compaction") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lfpc")
    val store = s"$tmp/store"
    def ingest(docs: Seq[(Long, String)]) = graft.apps.CorpusPrep.runIncremental(
      spark,
      docs.toDF("doc_id", "text")
        .withColumn("source", lit("s0")).withColumn("lang", lit("en")),
      store, minTokens = 2L, lineLevelDedup = true)
    ingest(Seq(1L -> "alpha beta gamma\ndelta epsilon zeta"))
    ingest(Seq(2L -> "red orange yellow\ngreen blue indigo"))
    val claimsBefore = spark.read.parquet(s"$store/batches/*/lfp").count()
    assert(claimsBefore == 4L)
    assert(graft.apps.CorpusPrep.compactStore(spark, store) == 2)
    // the folded batch carries every claim; with gc the originals are gone
    assert(spark.read.parquet(s"$store/batches/*/lfp").count() == claimsBefore)
    // a post-compaction batch repeating a pre-compaction line still dedups
    val r = ingest(Seq(3L -> "alpha beta gamma\nsix seven eight"))
    assert(r.accepted == 1L)
    assert(graft.apps.CorpusPrep.readShards(spark, store)
      .filter($"doc_id" === 3L).select($"text").as[String].head()
      == "six seven eight")
  }

  test("runIncremental persists the attributes sidecar per batch; it tracks accepted docs and survives compactStore") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-attrs")
    val store = s"$tmp/store"
    def ingest(docs: Seq[(Long, String)]) = graft.apps.CorpusPrep.runIncremental(
      spark,
      docs.toDF("doc_id", "text")
        .withColumn("source", lit("s0")).withColumn("lang", lit("en")),
      store, minTokens = 2L)
    val r1 = ingest(Seq(
      1L -> "the quick brown fox jumps",
      2L -> "der schnelle braune fuchs"))
    assert(r1.accepted == 2L)
    // one attribute row per accepted doc, with the model verdict column
    val a1 = graft.apps.CorpusPrep.readAttributes(spark, store)
    assert(a1.columns.contains("pred_lang_model"))
    assert(a1.select($"doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(a1.filter($"doc_id" === 1L).select($"pred_lang").as[String].head() == "en")
    // batch 2: a rejected duplicate contributes NO attribute row — the
    // sidecar tracks the accepted corpus, exactly like fp/sig
    val r2 = ingest(Seq(
      3L -> "red orange yellow green",
      4L -> "the quick brown fox jumps")) // exact dup of doc 1 → rejected
    assert(r2.accepted == 1L)
    val a2 = graft.apps.CorpusPrep.readAttributes(spark, store)
    assert(a2.select($"doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // sidecar doc set ≡ stored corpus doc set (provenance invariant)
    assert(a2.select($"doc_id").as[Long].collect().toSet ==
      graft.apps.CorpusPrep.readShards(spark, store)
        .select($"doc_id").as[Long].collect().toSet)
    // replay is a no-op for the sidecar too
    ingest(Seq(1L -> "the quick brown fox jumps", 2L -> "der schnelle braune fuchs"))
    assert(graft.apps.CorpusPrep.readAttributes(spark, store).count() == 3L)
    // compaction folds the sidecar; rows and values survive verbatim
    val before = a2.orderBy($"doc_id").collect().toSeq
    assert(graft.apps.CorpusPrep.compactStore(spark, store) == 2)
    val after = graft.apps.CorpusPrep.readAttributes(spark, store)
      .orderBy($"doc_id").collect().toSeq
    assert(after == before)
  }

  test("clusterCapSample: nearest-centroid assignment, ties to the lowest id, cap per cluster") {
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    val emb = Seq(
      0L -> Array(1f, 0f),   // cluster 0 (exact medoid)
      1L -> Array(0f, 1f),   // cluster 1
      2L -> Array(2f, 0.1f), // cluster 0
      3L -> Array(0.1f, 3f), // cluster 1
      4L -> Array(1f, 1f),   // exact tie — first max wins: cluster 0
      5L -> Array(0.9f, 0.1f) // cluster 0
    ).toDF("vec_id", "embedding")
    val all = Pipeline.clusterCapSample(emb, cents, perCluster = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all == Map(0L -> 0L, 2L -> 0L, 4L -> 0L, 5L -> 0L, 1L -> 1L, 3L -> 1L))
    // cap = 2: cluster 0 keeps its two lowest-md5 members, cluster 1 intact
    val capped = Pipeline.clusterCapSample(emb, cents, perCluster = 2)
    val byCluster = capped.groupBy($"cluster").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byCluster == Map(0L -> 2L, 1L -> 2L))
    // the kept rows are a PREFIX of the md5 order (rk dense from 1)
    assert(capped.filter($"rk" > 2).isEmpty)
  }
}
