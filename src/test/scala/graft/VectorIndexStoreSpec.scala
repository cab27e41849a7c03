package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, VectorIndexStore}

/** The persisted ANN serving loop: append under frozen codebooks must
  * equal a one-shot encode of the union; search against the artifact
  * must match a driver-side brute-force IVFADC reference exactly (the
  * seeded-reference discipline that caught the dedupGroups cap bug);
  * the epoch-swap write must keep the prior epoch readable until an
  * explicit vacuum; and malformed use must fail loudly.
  */
class VectorIndexStoreSpec extends SparkSpec {

  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").resolve("store").toString

  test("append under frozen codebooks equals one-shot encode of the union") {
    val founding = emb.where(col("vec_id") % 3 =!= 0)
    val rest = emb.where(col("vec_id") % 3 === 0)

    val grown = tmp("vix-grown")
    VectorIndexStore.save(founding, grown)
    VectorIndexStore.append(rest, grown)
    val ixG = VectorIndexStore.load(spark, grown)

    // one-shot: encode EVERYTHING, but with the codebooks the grown
    // store froze at founding — the property that makes append an
    // append, not a rebuild
    val oneShot = tmp("vix-oneshot")
    VectorIndexStore.save(emb, oneShot,
      ivfCodebook = Some(ixG.cents.map { case (id, v, _) => (id, v) }))
    val ixO = VectorIndexStore.load(spark, oneShot)

    def rows(ix: VectorIndexStore.Index) = ix.postings
      .select(col("vec_id"), col("cell"), concat_ws(":", col("codes")))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(rows(ixG).toSeq === rows(ixO).toSeq)
    assert(ixG.postings.count() === emb.count())
    assert(ixO.cents.map(_._1).toSeq === ixG.cents.map(_._1).toSeq)
  }

  test("search matches a driver-side brute-force IVFADC reference") {
    val path = tmp("vix-ref")
    VectorIndexStore.save(emb, path)
    val ix = VectorIndexStore.load(spark, path)
    val (m, k, dim) = (ix.m, ix.k, ix.dim)
    val sub = dim / m
    val kNN = 5
    val nprobe = 2

    val queries = emb.where(col("vec_id") % 7 === 0)
    val got = VectorIndexStore.search(queries, path, kNN = kNN, nprobe = nprobe)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))

    // reference: same arithmetic, sequential fold order, on the driver
    val postings = ix.postings.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray))
    def lut(v: Array[Double]): Array[Array[Double]] =
      Array.tabulate(m)(mi => Array.tabulate(k) { ci =>
        var acc = 0.0
        for (di <- 0 until sub) {
          val d = v(mi * sub + di) - ix.cb((mi * k + ci) * sub + di)
          acc += d * d
        }
        acc
      })
    val expected = queries.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .flatMap { case (qid, v) =>
        val nrm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
        val cos = ix.cents.map { case (_, cv, cn) =>
          var acc = 0.0
          for (i <- v.indices) acc += v(i) * cv(i)
          acc / (nrm * cn)
        }
        val probes = cos.indices.sortBy(i => (-cos(i), i)).take(nprobe).toSet
        val ql = lut(v)
        postings.filter(p => probes.contains(p._2))
          .map { case (nid, _, codes) =>
            var acc = 0.0
            for (mi <- 0 until m) acc += ql(mi)(codes(mi).toInt)
            (nid, acc)
          }
          .sortBy { case (nid, d) => (d, nid) }.take(kNN).zipWithIndex
          .map { case ((nid, d), i) =>
            (qid, nid, (i + 1).toLong,
              BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
      }.sortBy(t => (t._1, t._3))

    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)
  }

  test("search plan: queries broadcast, postings scanned, single-window map-capped top-k") {
    val path = tmp("vix-plan")
    VectorIndexStore.save(emb, path)
    val res = VectorIndexStore.search(
      emb.where(col("vec_id") % 7 === 0), path, kNN = 3, nprobe = 2)
    val plan = res.queryExecution.executedPlan.toString
    // the serving shape: the (small) query batch broadcasts with its ADC
    // LUTs; the postings table is never collected or broadcast
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    // ONE window, capped map-side: the rank <= kNN filter must compile to
    // WindowGroupLimit(Partial) below the exchange + Final above — each
    // map partition forwards at most kNN rows per query, the bound the
    // replaced manual (query_id, partition_id) pre-rank phase paid a
    // whole extra Exchange+Sort+Window for
    val limits = "WindowGroupLimit".r.findAllIn(plan).length
    assert(limits === 2, s"expected Partial+Final WindowGroupLimit, plan had $limits:\n$plan")
    // 2 WindowGroupLimit + 1 Window node — the manual second phase is gone
    assert("Window".r.findAllIn(plan).length === 3,
      s"expected one Window + Partial/Final limits:\n$plan")
  }

  test("external queries see no self-exclusion: a corpus row can be its own hit") {
    val path = tmp("vix-self")
    VectorIndexStore.save(emb, path)
    val hits = VectorIndexStore.search(
        emb.where(col("vec_id") % 7 === 0), path, kNN = 3, nprobe = 2)
      .where(col("query_id") === col("neighbor_id")).count()
    // ADC self-distance is the quantization error — small but not
    // guaranteed minimal; just assert self-pairs are not filtered out
    assert(hits > 0)
  }

  test("serving search equals the in-plan IVFADC search at the same knobs") {
    import org.apache.spark.sql.expressions.Window
    val path = tmp("vix-recall")
    VectorIndexStore.save(emb, path) // same m/k/centEvery defaults as ivfPqSearch
    val qf = col("vec_id") % 20 === 0
    // the serving contract has no self-exclusion: ask for 11, drop the
    // self-pair, re-rank. Wherever the self lands (in the top 10, 11th,
    // or outside), the surviving top-10 is exactly the top-10 over
    // non-self candidates — i.e. ivfPqSearch's own contract — so the
    // persisted index must serve EXACTLY what the in-plan operator
    // computes from scratch.
    val raw = VectorIndexStore.search(emb.where(qf), path, kNN = 11, nprobe = 3)
      .where(col("query_id") =!= col("neighbor_id"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    val served = raw.withColumn("r2", row_number().over(w)).where(col("r2") <= 10)
      .select(col("query_id"), col("neighbor_id"),
        col("r2").cast("long").as("rank"), col("approx_dist2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val inPlan = Similarity.ivfPqSearch(emb, qf, kNN = 10, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(served.nonEmpty)
    assert(served === inPlan)
    // Recall itself is a property of the underlying IVFADC configuration
    // (measured across codebooks/probes in SimilaritySpec, where the
    // default-codebook numbers are low and NOT monotone in nprobe — ADC
    // ranks by quantized distance, so extra probed candidates can
    // displace true neighbors); record the serving number for reference.
    val truth = Similarity.annTopK(emb, qf, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rec = served.map(t => (t._1, t._2)).count(truth.contains) / truth.size.toDouble
    info(f"serving recall@10 at nprobe 3, default codebooks: $rec%.3f")
    assert(rec > 0.0)
  }

  test("residual store serves exactly the in-plan residual IVFADC results") {
    import org.apache.spark.sql.expressions.Window
    val path = tmp("vix-resid")
    VectorIndexStore.save(emb, path, residual = true)
    assert(VectorIndexStore.load(spark, path).residual,
      "the founding residual flag must persist in pqmeta")
    val qf = col("vec_id") % 20 === 0
    // same no-self-exclusion bridge as the non-residual parity test:
    // ask for 11, drop the self-pair, re-rank
    val raw = VectorIndexStore.search(emb.where(qf), path, kNN = 11, nprobe = 3)
      .where(col("query_id") =!= col("neighbor_id"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    val served = raw.withColumn("r2", row_number().over(w)).where(col("r2") <= 10)
      .select(col("query_id"), col("neighbor_id"),
        col("r2").cast("long").as("rank"), col("approx_dist2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val inPlan = Similarity.ivfPqSearch(emb, qf, kNN = 10, nprobe = 3, residual = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(served.nonEmpty)
    assert(served === inPlan)
    // the lift the residual form exists for, measured on the store path
    // (same configuration, same query set, same truth)
    val truth = Similarity.annTopK(emb, qf, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(p: String): Double = {
      val r = VectorIndexStore.search(emb.where(qf), p, kNN = 11, nprobe = 3)
        .where(col("query_id") =!= col("neighbor_id"))
        .withColumn("r2", row_number().over(w)).where(col("r2") <= 10)
        .select("query_id", "neighbor_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      r.count(truth.contains) / truth.size.toDouble
    }
    val nonResid = tmp("vix-nonresid")
    VectorIndexStore.save(emb, nonResid)
    val (rr, rn) = (recall(path), recall(nonResid))
    info(f"serving recall@10 at nprobe 3: residual $rr%.3f vs raw $rn%.3f")
    assert(rr > rn,
      f"residual encoding must lift recall on the store path ($rr%.3f vs $rn%.3f)")
  }

  test("append and search honor the persisted residual flag") {
    val path = tmp("vix-resid-grow")
    val founding = emb.where(col("vec_id") % 3 =!= 0)
    VectorIndexStore.save(founding, path, residual = true)
    VectorIndexStore.append(emb.where(col("vec_id") % 3 === 0), path)
    val ixG = VectorIndexStore.load(spark, path)
    assert(ixG.residual, "append must carry the founding encoding form")
    // frozen-codebook append parity, residual form: one-shot encode of
    // the union under the grown store's codebooks must be row-identical
    val oneShot = tmp("vix-resid-oneshot")
    VectorIndexStore.save(emb, oneShot, residual = true,
      ivfCodebook = Some(ixG.cents.map { case (id, v, _) => (id, v) }))
    def rows(ix: VectorIndexStore.Index) = ix.postings
      .select(col("vec_id"), col("cell"), concat_ws(":", col("codes")))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(rows(ixG).toSeq === rows(VectorIndexStore.load(spark, oneShot)).toSeq)
  }

  test("drift telemetry: a shifted batch moves the staleness metric, an in-distribution one does not") {
    import spark.implicits._
    // controlled geometry (the embeddings table is too diffuse to
    // separate subset noise from a real shift): the corpus clusters
    // around axes e1..e4 with small deterministic jitter, the codebook
    // IS those axes, and the shifted batch clusters around e5..e8 —
    // directions the founding codebook does not cover at all
    val dim = 8
    def cluster(ids: Range, axes: Range): Seq[(Long, Array[Float])] =
      ids.map { i =>
        val axis = axes(i % axes.length)
        val v = Array.tabulate(dim)(d =>
          (if (d == axis) 1.0f else 0.0f) + 0.02f * ((i * 7 + d * 3) % 5 - 2))
        (i.toLong, v)
      }
    def frame(rows: Seq[(Long, Array[Float])]) =
      rows.toDF("vec_id", "embedding")
    val codebook = Array.tabulate(4)(a =>
      (a.toLong, Array.tabulate(dim)(d => if (d == a) 1.0 else 0.0)))

    val path = tmp("vix-drift")
    VectorIndexStore.save(frame(cluster(0 until 120, 0 until 4)), path,
      m = 4, k = 4, ivfCodebook = Some(codebook))
    // in-distribution: fresh ids, same clusters
    VectorIndexStore.append(frame(cluster(1000 until 1080, 0 until 4)), path)
    // shifted: the clusters the founding codebook never saw
    VectorIndexStore.append(frame(cluster(2000 until 2080, 4 until 8)), path)

    val hist = VectorIndexStore.driftStats(spark, path)
      .orderBy("epoch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(hist.length === 3, s"one history row per epoch: ${hist.toSeq}")
    assert(hist(0)._2 === "founding" && hist(1)._2 === "append")
    val Seq(f, inDist, shifted) = hist.toSeq.map(_._4)
    info(f"mean cdist: founding $f%.4f, in-distribution $inDist%.4f, shifted $shifted%.4f")
    assert(math.abs(inDist - f) < 0.05,
      f"an in-distribution batch must sit near the founding baseline ($inDist%.4f vs $f%.4f)")
    assert(shifted > f + 0.5,
      f"a shifted batch must move the metric well past the baseline ($shifted%.4f vs $f%.4f)")
    assert(hist.forall(h => h._5 >= h._4), "p95 >= mean in every epoch")
    // the history survives vacuum — each epoch's frame is self-contained
    VectorIndexStore.vacuum(spark, path)
    assert(VectorIndexStore.driftStats(spark, path).count() === 3)
  }

  test("reconstruct decodes each posting to its quantizer reproduction value") {
    val path = tmp("vix-recon")
    VectorIndexStore.save(emb, path)
    val ix = VectorIndexStore.load(spark, path)
    val sub = ix.dim / ix.m
    val got = VectorIndexStore.reconstruct(spark, path).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val posts = ix.postings.select("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray))
    assert(got.size === posts.length)
    posts.take(20).foreach { case (id, _, codes) =>
      val want = Array.tabulate(ix.dim) { j =>
        val mi = j / sub
        ix.cb((mi * ix.k + codes(mi).toInt) * sub + j % sub)
      }
      assert(got(id).toSeq === want.toSeq, s"vec $id")
    }
    // residual form adds the cell centroid back
    val rpath = tmp("vix-reconres")
    VectorIndexStore.save(emb, rpath, residual = true)
    val rix = VectorIndexStore.load(spark, rpath)
    val rgot = VectorIndexStore.reconstruct(spark, rpath).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    rix.postings.select("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray))
      .take(20).foreach { case (id, cell, codes) =>
        val want = Array.tabulate(rix.dim) { j =>
          val mi = j / sub
          rix.cb((mi * rix.k + codes(mi).toInt) * sub + j % sub) +
            rix.cents(cell)._2(j)
        }
        assert(rgot(id).toSeq === want.toSeq, s"vec $id")
      }
  }

  test("refoundIfStale: shifted batch trips the gate, rebuild recovers recall") {
    import spark.implicits._
    // the drift-telemetry geometry: founding clusters on axes e1..e4
    // (codebook = those axes), the shifted batch on e5..e8 — directions
    // the frozen codebook does not cover, so every shifted query lands
    // in an arbitrary founding cell and nprobe=1 recall collapses
    val dim = 8
    def cluster(ids: Range, axes: Range): Seq[(Long, Array[Float])] =
      ids.map { i =>
        val axis = axes(i % axes.length)
        val v = Array.tabulate(dim)(d =>
          (if (d == axis) 1.0f else 0.0f) + 0.02f * ((i * 7 + d * 3) % 5 - 2))
        (i.toLong, v)
      }
    def frame(rows: Seq[(Long, Array[Float])]) =
      rows.toDF("vec_id", "embedding")
    val codebook = Array.tabulate(4)(a =>
      (a.toLong, Array.tabulate(dim)(d => if (d == a) 1.0 else 0.0)))

    val path = tmp("vix-refound")
    VectorIndexStore.save(frame(cluster(0 until 120, 0 until 4)), path,
      m = 4, ivfCodebook = Some(codebook))
    // in-distribution append: the gate must NOT fire (no rebuild churn)
    VectorIndexStore.append(frame(cluster(1000 until 1080, 0 until 4)), path)
    assert(!VectorIndexStore.stale(spark, path))
    assert(!VectorIndexStore.refoundIfStale(spark, path))
    assert(VectorIndexStore.driftStats(spark, path).count() === 2,
      "a non-stale store must not be rebuilt")

    VectorIndexStore.append(frame(cluster(2000 until 2080, 4 until 8)), path)
    assert(VectorIndexStore.stale(spark, path))

    // nprobe=1 recall from the shifted region, truth = the query's own
    // axis cluster (its 20 members are the near-ties any correct top-10
    // draws from — jitter-level ordering is beneath PQ resolution by
    // design, so cluster membership is the honest ground truth). Frozen
    // codebook: a shifted cluster scatters over founding cells on
    // jitter alone, so one probe sees a fraction of it. Re-founded:
    // the retrained cells cover the shifted axes and one probe sees
    // the whole cluster.
    val queries = frame(cluster(5000 until 5020, 4 until 8))
    val memberIds = (2000 until 2080).map(i => i.toLong -> (4 + i % 4)).toSeq
    def recall(): Double = {
      val kNN = 10
      val got = VectorIndexStore.search(queries, path, kNN = kNN, nprobe = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      (5000 until 5020).map { qi =>
        val axis = 4 + qi % 4
        val truth = memberIds.filter(_._2 == axis).map(_._1).toSet
        val hits = got.getOrElse(qi.toLong, Set.empty[Long]) & truth
        hits.size.toDouble / kNN
      }.sum / 20
    }
    val before = recall()
    // widen nlist at rebuild (drift and growth arrive together): one
    // trained cell per cluster — more would shard clusters across
    // cells and nprobe=1 would see only a shard
    assert(VectorIndexStore.refoundIfStale(spark, path, nlist = 8),
      "the stale gate must fire on the shifted store")
    val after = recall()
    info(f"nprobe=1 cluster-recall@10 from the shifted region: frozen $before%.2f → re-founded $after%.2f")
    assert(after > before + 0.2,
      f"re-founding must recover recall ($before%.2f → $after%.2f)")
    // 0.77 deterministic: Lloyd at nlist=8 parks one shifted axis in a
    // shared cell (a local optimum) — the other three recover to 1.0
    assert(after >= 0.7, f"re-founded recall still poor: $after%.2f")
    // rebuild semantics: fresh baseline, same corpus, old epoch readable
    val hist = VectorIndexStore.driftStats(spark, path).collect()
    assert(hist.length === 1 && hist.head.getString(1) === "founding",
      "a re-found store restarts its drift history")
    assert(VectorIndexStore.load(spark, path).postings.count() === 280)
  }

  test("compact merges posting segments to one; search answers bit-identical through vacuum, appends continue") {
    import graft.core.EpochStore
    val path = tmp("vix-compact")
    VectorIndexStore.save(emb.where(col("vec_id") % 3 === 0), path)
    VectorIndexStore.append(emb.where(col("vec_id") % 3 === 1), path)
    VectorIndexStore.append(emb.where(col("vec_id") % 3 === 2), path)
    val queries = emb.where(col("vec_id") % 7 === 0)
    def served() = VectorIndexStore.search(queries, path, kNN = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect().toSeq
    val before = served()
    val hist = VectorIndexStore.driftStats(spark, path).collect().toSeq
    val e = VectorIndexStore.compact(spark, path)
    assert(e === 4, "compact must commit a new epoch over 3 segments")
    assert(EpochStore.readSegments(spark, path, "postings", e) ===
      Some(Seq(s"postings_s$e")), "postings not merged to one segment")
    // codebooks + drift history carried: the new epoch is self-contained
    val ix = VectorIndexStore.load(spark, path)
    assert(ix.epoch === e)
    assert(served() === before, "compaction changed search answers")
    assert(VectorIndexStore.driftStats(spark, path).collect().toSeq === hist,
      "compaction must carry the drift history unchanged")
    // no-op on an already-compact store
    assert(VectorIndexStore.compact(spark, path) === e)
    VectorIndexStore.vacuum(spark, path)
    Seq(1L, 2L, 3L).foreach { s =>
      assert(!new java.io.File(s"$path/postings_s$s").exists(),
        s"vacuum left superseded segment postings_s$s")
    }
    assert(served() === before, "post-vacuum answers changed")
    // the store still appends (and its drift loop still runs) afterwards
    VectorIndexStore.append(
      emb.limit(20).select((col("vec_id") + 900000L).as("vec_id"),
        col("embedding")), path)
    assert(VectorIndexStore.driftStats(spark, path).count() === hist.size + 1)
    assert(served().nonEmpty)
    assertFooterSchemas(path)
  }

  test("prior epoch survives an append until vacuum; founding segment untouched") {
    val path = tmp("vix-epoch")
    VectorIndexStore.save(emb.where(col("vec_id") % 3 =!= 0), path)
    val s1 = new java.io.File(s"$path/postings_s1")
    val e1segs = new java.io.File(s"$path/postings_e1.segs")
    val ivf1 = new java.io.File(s"$path/ivf_e1")
    assert(s1.exists() && e1segs.exists() && ivf1.exists())
    def snapshot(d: java.io.File): Map[String, (Long, Long)] =
      d.listFiles().filter(_.isFile)
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    val before = snapshot(s1)

    VectorIndexStore.append(emb.where(col("vec_id") % 3 === 0), path)
    assert(e1segs.exists(), "commit must never delete the epoch a reader may hold")
    assert(new java.io.File(s"$path/postings_s2").exists())
    assert(snapshot(s1) === before,
      "O(batch) append must not rewrite the founding postings segment")
    // the new segment holds exactly the batch's rows
    assert(spark.read.parquet(s"$path/postings_s2").count() ===
      emb.where(col("vec_id") % 3 === 0).count())

    VectorIndexStore.vacuum(spark, path)
    assert(!e1segs.exists())
    assert(!ivf1.exists(), "superseded codebook epochs are reclaimed")
    assert(s1.exists(), "vacuum must keep segments the current epoch references")
    assert(VectorIndexStore.load(spark, path).postings.count() === emb.count())
  }

  test("malformed use fails loudly") {
    intercept[IllegalArgumentException] {
      VectorIndexStore.load(spark, tmp("vix-empty"))
    }
    intercept[IllegalArgumentException] {
      // founding corpus whose ids miss the sampling rule entirely
      VectorIndexStore.save(emb.where(col("vec_id") % 40 === 0), tmp("vix-nocent"))
    }
    val path = tmp("vix-dim")
    VectorIndexStore.save(emb, path)
    intercept[IllegalArgumentException] {
      VectorIndexStore.append(
        emb.select(col("vec_id") + 1000000 as "vec_id",
          slice(col("embedding"), 1, 8).as("embedding")), path)
    }
    // an EMPTY append (a gate that rejected the whole batch) is a no-op,
    // not a width error — and causes no epoch churn
    val before = VectorIndexStore.load(spark, path).postings.count()
    VectorIndexStore.append(emb.where(col("vec_id") < 0), path)
    assert(VectorIndexStore.load(spark, path).postings.count() === before)
  }
}
