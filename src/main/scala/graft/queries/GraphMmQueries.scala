package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables => T}
import graft.mr.MapReduce
import graft.multimodal.{BinaryFeatures, PngCodec, PpmCodec, WavCodec}
import graft.ops.TextOps

/** SURVEY.md §2B category I (rest) — BFS levels (Mimir's BFS app as
  * iterated joins), the multimodal join, binary feature plumbing, and
  * wordcount through the §2A MapReduce facade.
  */
object GraphMmQueries extends QueryPack {

  val queries: Map[String, QueryFn] = Map(
    "graph_bfs_levels" -> ((s, d) => {
      // Mimir BFS-app equivalent, run through the REAL level-synchronous
      // BFS operator (graft.ops.BFS): edges are region→nation→customer
      // with kind-prefixed node ids; iteration stops at fixpoint (3
      // levels on this DAG — matching the oracle's fixed expansion).
      val rn = T.nation(s, d).select(
        concat(lit("region:"), col("n_regionkey")).as("src"),
        concat(lit("nation:"), col("n_nationkey")).as("dst"))
      val nc = T.customer(s, d).select(
        concat(lit("nation:"), col("c_nationkey")).as("src"),
        concat(lit("customer:"), col("c_custkey")).as("dst"))
      val roots = T.region(s, d).filter(col("r_name") === "AMERICA")
        .select(concat(lit("region:"), col("r_regionkey")).as("node"))
      graft.ops.BFS.levels(rn.unionAll(nc), roots)
        .select(
          substring_index(col("node"), ":", 1).as("node_kind"),
          substring_index(col("node"), ":", -1).cast("long").as("node_key"),
          col("level"))
        .orderBy("level", "node_kind", "node_key")
    }),

    "graph_degree_hist" -> ((s, d) => {
      // degree-distribution histogram of the shared 1000-node order-FK
      // quotient graph — the power-law audit run BEFORE any graph
      // operator (it predicts wedge volume, hub skew, and whether the
      // triangle orientation trick is needed at all). Distinct
      // undirected edges → partial-aggregated degrees → power-of-two
      // buckets via an integer CASE chain (log2 would be a libm call at
      // an exact-power boundary — the CASE is branch-exact in both
      // engines). Output rows are ≤ ~11 buckets at any scale.
      val edges = T.spread(T.orders(s, d).select(
        pmod(col("o_custkey"), lit(1000L)).as("src"),
        pmod(col("o_orderkey"), lit(1000L)).as("dst")))
      val und = edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val deg = und.select(col("a").as("node"))
        .union(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val bucket = (0 to 9).foldRight(lit(10)) { (i, e) =>
        when(col("deg") < (1L << (i + 1)), i).otherwise(e)
      }
      deg.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_nodes"),
          min("deg").as("min_deg"), max("deg").as("max_deg"))
        .orderBy("bucket")
    }),

    "graph_clustering_coeff" -> ((s, d) => {
      // global clustering coefficient of the quotient graph — 3T/W,
      // the single scalar that says whether the graph has community
      // structure (random graphs: cc ≈ density) — composed from the
      // SAME two measured primitives the family already ships: the
      // compact-forward triangle count (hub-safe wedge shuffle) and
      // the partial-aggregated degree table. All-integer until the one
      // final division: W = Σ C(deg,2) and 3T = Σ per-node
      // participation are exact BIGINTs.
      val edges = T.spread(T.orders(s, d).select(
        pmod(col("o_custkey"), lit(1000L)).as("src"),
        pmod(col("o_orderkey"), lit(1000L)).as("dst")))
      val und = edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val wedges = und.select(col("a").as("node"))
        .union(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .agg(sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))
      // Σ participation = 3 · T off the SAME memoized per-node triangle
      // table graph_triangles reads (r18, ADVICE: the r17 memo sharing
      // was half-wired — this key recomputed the identical quotient
      // triangle count through its own perNodeAuto). coalesce: a
      // triangle-free graph aggregates an EMPTY per-node table to NULL
      // here, while the oracle's COUNT(*) CTE yields 0 (r12 ADVICE).
      val tri3 = quotientTriangles(s, d)
        .agg(coalesce(sum("n_tri"), lit(0L)).as("tri3"))
      wedges.crossJoin(broadcast(tri3))
        .select(col("n_wedges"), expr("tri3 DIV 3").as("n_tri"),
          expr("ROUND(tri3 / CAST(n_wedges AS DOUBLE), 6)").as("global_cc"))
    }),

    "graph_pagerank" -> ((s, d) => {
      // the crawl-domain ranking shape: damped weighted PageRank on a
      // deterministic 1000-node quotient of the order FK stream (src =
      // o_custkey%1000 → dst = o_orderkey%1000, weight = multiplicity —
      // quotient-hashing is how a trillion-edge web graph is downsampled
      // for rank experiments, and it preserves cycles/skew/danglers).
      // 3 fixed rounds through the general graft.ops.PageRank operator;
      // the oracle unrolls the identical recurrence as a CTE chain from
      // the same (damping, iters) constants. Only the final pr is
      // rounded (8 dp — double noise across engines is ~1e-15).
      val edges = T.spread(T.orders(s, d)
          .select("o_custkey", "o_orderkey"))
        .groupBy(pmod(col("o_custkey"), lit(1000L)).as("src"),
          pmod(col("o_orderkey"), lit(1000L)).as("dst"))
        .agg(count(lit(1)).cast("double").as("w"))
      graft.ops.PageRank.run(edges, PrDamping, PrIters)
        .select(col("node"), round(col("pr"), 8).as("pr"))
        .orderBy(col("pr").desc, col("node"))
        .limit(50)
    }),

    "graph_triangles" -> ((s, d) => {
      // triangle counting (the canonical MapReduce graph benchmark next
      // to BFS) on the same 1000-node order-FK quotient graph as
      // graph_pagerank, through the degree-oriented compact-forward
      // operator (graft.ops.Triangles — hub nodes generate zero wedges
      // from their in-edges, so the wedge shuffle survives power-law
      // skew). Top-20 nodes by triangle participation; integer counts,
      // so parity is exact.
      quotientTriangles(s, d)
        .orderBy(col("n_tri").desc, col("node"))
        .limit(20)
    }),

    "graph_kcore" -> ((s, d) => {
      // bounded k-core peeling on the same 1000-node order-FK quotient
      // graph as graph_pagerank/graph_triangles — the dense-core vs
      // fringe separation a link-graph audit reads. k is data-derived
      // as CEIL(0.8 × average degree) (two dimension-sized aggregate
      // jobs for the scalar) — scale-adaptive so the peel tracks the
      // quotient graph's density at every SF, and the 0.8 margin keeps
      // the core non-empty: peeling a near-random graph AT its average
      // degree cascades to nothing (measured: k=30 → 0 survivors at
      // sf0.01; k=24 → a real 158-node core). KCoreRounds fixed rounds
      // are the declared, engine-portable semantics (the PageRank
      // precedent). Integer degrees → exact parity; the oracle unrolls
      // the identical peel as a CTE chain.
      val edges = T.spread(T.orders(s, d).select(
        pmod(col("o_custkey"), lit(1000L)).as("src"),
        pmod(col("o_orderkey"), lit(1000L)).as("dst")))
      val und = edges
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val ne = und.count()
      val nv = und.select(explode(array(col("a"), col("b"))).as("n"))
        .distinct().count()
      val k = math.ceil(1.6 * ne / nv).toInt
      graft.ops.KCore.peel(edges, k, KCoreRounds)
        .orderBy("node")
    }),

    "graph_community" -> ((s, d) => {
      // synchronous label-propagation communities (3 rounds) on the
      // shared 1000-node quotient graph — the crawl-corpus clustering
      // step that groups domains/hosts by link structure before
      // per-community sampling caps (sample_cluster_cap's upstream).
      // Deterministic by construction: mode-of-neighbor-labels with
      // ties to the smallest label, all-integer state — so the CTE
      // unroll replays it exactly. Per-round cost is one hash join +
      // two hash aggregates (the tie-safe argmax is max(struct), never
      // a window) — the bounded-round iteration shape PageRank/KCore
      // already ship.
      lpaLabels(s, d)
        .orderBy("node")
    }),

    "graph_modularity" -> ((s, d) => {
      // modularity of the LPA communities — the quality score that says
      // whether graph_community's detected partition actually
      // concentrates edges (Q_c = e_c/m − (d_c/2m)², positive when a
      // community holds more than its degree-expected edge share).
      // Composes the family's primitives (the sim_ann_ivf_pq
      // composition precedent): the SAME label-propagation run, the
      // SAME partial-aggregated degree table, e_c from one
      // edge⋈labels⋈labels equi-join chain. All counts are exact
      // BIGINTs; q_micro is ONE shared IEEE expression tree (exponent
      // literals — the decimal-literal division drift class), 1e-6
      // units. The oracle replays the identical LPA CTE chain.
      val adj = quotientAdj(s, d) // feeds labels + degrees + the edge set
      val labels = lpaLabels(s, d)
      val undE = adj.filter(col("node") < col("nbr"))
        .select(col("node").as("a"), col("nbr").as("b"))
      val m = undE.agg(count(lit(1)).as("m"))
      val dc = adj.groupBy("node").agg(count(lit(1)).as("deg"))
        .join(labels, "node")
        .groupBy("community")
        .agg(sum("deg").as("dc"), count(lit(1)).as("n_nodes"))
      val ec = undE
        .join(labels.select(col("node").as("a"), col("community").as("ca")), "a")
        .join(labels.select(col("node").as("b"), col("community").as("cb")), "b")
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("community")).agg(count(lit(1)).as("ec"))
      dc.join(ec, Seq("community"), "left")
        .na.fill(0L, Seq("ec"))
        .crossJoin(broadcast(m))
        .select(col("community"), col("n_nodes"), col("dc"), col("ec"),
          expr("CAST(ROUND(1e6 * (4*m*ec - dc*dc) / (4e0*m*m)) AS BIGINT)")
            .as("q_micro"))
        .orderBy("community")
    }),

    "graph_jaccard_neighbors" -> ((s, d) => {
      // neighbor-set Jaccard node similarity — the link-prediction /
      // "customers also touched" score — on the same 1000-node order-FK
      // quotient graph as graph_pagerank/triangles/kcore. |∩| is the
      // exact shared-neighbor count mined by PairMining.cooccur —
      // hash-chunked posting lists, so a hub neighbor of degree d fans
      // its C(d,2) wedge pairs across ⌈d/64⌉² bounded buckets instead
      // of one task (the r12 power-law scale-killer; the total Σ C(d,2)
      // wedge volume is the irreducible cost of EXACTNESS and
      // parallelizes perfectly — see ops/PairMining.scala). |∪| =
      // deg(a) + deg(b) − |∩| from the partial-aggregated degree table
      // — never a node×node cartesian. One double division per output
      // pair (single IEEE op — exact parity), 6-dp round, total order
      // (j desc, a, b), top 25. The brute-force self-join oracle is
      // unchanged: this is a plan device, not a semantics change.
      val adj = quotientAdj(s, d) // shared memoized adjacency (r17)
      val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
      val inter = graft.ops.PairMining.cooccur(adj, "nbr", "node", 64)
        .withColumnRenamed("n", "ni")
      inter
        .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
        .withColumn("j", round(col("ni").cast("double")
          / (col("da") + col("db") - col("ni")), 6))
        .orderBy(col("j").desc, col("a"), col("b"))
        .limit(25)
        .select("a", "b", "ni", "j")
    }),

    // TEST-only (no oracle — the quotient keys above carry the hash
    // gate for the same operators): the raw-scale skew runs the r7
    // verdict asked for, timed by Bench every round and measured in
    // BASELINE.md §graph-scale (`perfbench/run.py --trace 1` gives the
    // per-stage shuffle bytes). SemanticsSpec asserts their structural invariants.
    "graph_pagerank_raw" -> ((s, d) => {
      // the SAME PageRank operator on the raw customer→order FK graph
      // at full id resolution (~165k nodes / 150k edges at sf0.1, vs
      // the 1000-node quotient): typed prefixes keep the two FK id
      // spaces disjoint. The graph is bipartite customer→order with
      // every order a dangling sink — the leaky formulation's worst
      // case (max dangling mass) and a real skew datapoint: hub
      // customers fan rank out over hundreds of orders.
      // r18 (guide §2.3, r17 verdict #2): the typed "c:"/"o:" STRING ids
      // rode every iterative shuffle (join keys + group-by keys, 3
      // rounds) — tag the two disjoint FK id spaces as longs instead
      // (customer k → 2k, order k → 2k+1) and reconstruct the declared
      // string ids once, post-rank, before the final order/limit. The
      // recurrence, groups, and output rows are identical; only the
      // shuffled key width changes (~24-byte strings → 8-byte longs).
      val edges = T.spread(T.orders(s, d)
          .select("o_custkey", "o_orderkey"))
        .groupBy((col("o_custkey") * 2L).as("src"),
          (col("o_orderkey") * 2L + 1L).as("dst"))
        .agg(count(lit(1)).cast("double").as("w"))
      graft.ops.PageRank.run(edges, PrDamping, PrIters)
        .select(
          when(col("node") % 2L === 0L,
              concat(lit("c:"), shiftright(col("node"), 1)))
            .otherwise(concat(lit("o:"), shiftright(col("node"), 1)))
            .as("node"),
          round(col("pr"), 8).as("pr"))
        .orderBy(col("pr").desc, col("node"))
        .limit(50)
    }),

    "graph_triangles_raw" -> ((s, d) => {
      // raw-scale triangle counting. The FK graph itself is bipartite —
      // structurally triangle-free — so the raw exercise runs on the
      // part co-purchase projection: parts co-occurring in one order,
      // the classic market-basket graph. Edge generation is a per-order
      // self-join bounded by lines-per-order (~7 → ≤21 pairs per
      // order — bounded expansion, not quadratic), and the result has
      // real power-law hubs (popular parts) and real closures, which is
      // what the compact-forward orientation exists to survive.
      val op = T.spread(T.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")))
        .distinct()
      val edges = op
        .join(op.withColumnRenamed("p", "p2"), "ok")
        .filter(col("p") < col("p2"))
        .select(col("p").as("src"), col("p2").as("dst"))
      graft.ops.Triangles.perNodeAuto(edges)
        .orderBy(col("n_tri").desc, col("node"))
        .limit(20)
    }),

    "multimodal_join" -> ((s, d) => {
      // text + vector sides joined 1:1 → per-(lang, label) profile.
      import graft.ops.VectorOps
      T.documents(s, d)
        .join(T.embeddings(s, d), col("doc_id") === col("vec_id"))
        .select(col("lang"), col("label"), col("n_chars"),
          VectorOps.norm(VectorOps.toDouble(col("embedding"))).as("nrm"))
        .groupBy("lang", "label")
        .agg(count(lit(1)).as("n"),
          round(avg("n_chars"), 2).as("avg_chars"),
          round(avg("nrm"), 4).as("avg_norm"))
        .orderBy("lang", "label")
    }),

    "multimodal_features" -> ((s, d) => {
      // binary-payload feature extraction (decode stubbed — see
      // BinaryFeatures): typed mapPartitions over an opaque binary
      // column, oracled via the same arithmetic in SQL.
      val feats = BinaryFeatures.extract(
        BinaryFeatures.documentsAsMedia(T.documents(s, d)))
      feats.toDF()
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), col("n_bytes"), col("head_byte"),
          col("checksum").as("crc_mod"))
        .orderBy("doc_id")
    }),

    "multimodal_framesample" -> ((s, d) => {
      // frame-sampled "video" decode: 16-byte frames, every 4th kept;
      // the probe cap bounds output while the per-partition iteration
      // is the real any-scale path.
      val media = BinaryFeatures.documentsAsMedia(
        T.documents(s, d).filter(col("doc_id") < 100))
      BinaryFeatures.sampleFrames(media, frameLen = 16, stride = 4)
        .toDF()
        .orderBy("doc_id", "frame_idx")
    }),

    "multimodal_audio_meta" -> ((s, d) => {
      // REAL audio decode (the de-stubbed multimodal path): each doc_id
      // deterministically synthesizes a PCM16 clip (rate/channels/
      // frames/samples all doc_id arithmetic), encodes it as a
      // standards-conformant RIFF/WAV byte payload — the %5 slice gets
      // an extra LIST chunk, so only a genuine chunk-walking parser
      // survives — and WavCodec.parse recovers the metadata + the exact
      // integer sample digest from the BYTES. The oracle recomputes the
      // expected values from the same arithmetic, so any parser bug
      // (offset, sign extension, pad byte, chunk skip) hash-mismatches.
      // Shape: encode→parse is per-row inside one mapPartitions (the
      // codec-state boundary), the only shuffle is the 6-group profile.
      import s.implicits._
      T.spread(T.documents(s, d).select(col("doc_id"))).as[Long]
        .mapPartitions { ids =>
          // real pipeline: open the codec HERE, once per task.
          ids.map { id =>
            val rate = (8000 + (id % 3) * 4000).toInt
            val channels = (1 + (id % 2)).toInt
            val nFrames = 64 + (id % 128)
            val total = (nFrames * channels).toInt
            val samples = Array.tabulate[Short](total)(i =>
              (((id * 31 + i.toLong * 17) % 65536) - 32768).toShort)
            val wav = WavCodec.encodePcm16(rate, channels, samples,
              extraChunk = id % 5 == 0)
            val m = WavCodec.parse(wav)
            (m.sampleRate.toLong, m.channels.toLong, m.nFrames,
              m.durationUs, m.sumAbs)
          }
        }
        .toDF("sample_rate", "n_channels", "nf", "dur", "sa")
        .groupBy("sample_rate", "n_channels")
        .agg(count(lit(1)).as("n_clips"), sum("nf").as("n_frames"),
          sum("dur").as("dur_us"), sum("sa").as("sum_abs"))
        .orderBy("sample_rate", "n_channels")
    }),

    "multimodal_image_meta" -> ((s, d) => {
      // REAL image decode (the PPM twin of multimodal_audio_meta): each
      // doc_id synthesizes an RGB plane from shared arithmetic, encodes
      // it as a binary netpbm P6 image — the %4 slice gets a header
      // comment line, so only a genuine tokenizing header scanner
      // survives — and PpmCodec.parse recovers dimensions plus exact
      // per-channel sums FROM THE BYTES. Oracle recomputes expectations
      // from the arithmetic; profile per width bucket.
      import s.implicits._
      T.spread(T.documents(s, d).select(col("doc_id"))).as[Long]
        .mapPartitions { ids =>
          // real pipeline: open the codec HERE, once per task.
          ids.map { id =>
            val w = (4 + id % 13).toInt
            val h = (3 + id % 7).toInt
            val px = Array.tabulate[Byte](w * h * 3)(j =>
              ((id * 7 + j.toLong * 13) % 256).toByte)
            val m = PpmCodec.parse(
              PpmCodec.encodeP6(w, h, px, comment = id % 4 == 0))
            (m.width.toLong, m.height.toLong,
              m.width.toLong * m.height, m.sumR, m.sumG, m.sumB)
          }
        }
        .toDF("w", "h", "px", "sr", "sg", "sb")
        .groupBy(col("w").as("width"))
        .agg(count(lit(1)).as("n_images"), sum("px").as("n_pixels"),
          sum("sr").as("sum_r"), sum("sg").as("sum_g"), sum("sb").as("sum_b"))
        .orderBy("width")
    }),

    "multimodal_png_roundtrip" -> ((s, d) => {
      // the COMPRESSED codec member (PNG: zlib DEFLATE + predictive
      // filters + CRC-checked chunking, dependency-free via the JDK's
      // Inflater — see multimodal/PngCodec). Each doc synthesizes an
      // RGB plane from shared arithmetic, encodes it with filter
      // doc_id % 5 — all FIVE spec filters (None/Sub/Up/Average/Paeth)
      // run in the production pass — the %4 slice carries an ancillary
      // tEXt chunk the chunk walker must CRC-check and skip, and the
      // decoder recovers the exact plane from the entropy-coded bytes.
      // Lossless means the arithmetic oracle replays the DECODED
      // profile; n_crc_ok == n_images certifies every stream verified.
      // One mapPartitions pass; the only shuffle is the profile.
      import s.implicits._
      T.spread(T.documents(s, d).select(col("doc_id"))).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val w = (5 + id % 11).toInt
            val h = (4 + id % 5).toInt
            val px = Array.tabulate[Byte](w * h * 3)(j =>
              ((id * 11 + j.toLong * 17) % 256).toByte)
            val enc = PngCodec.encode(w, h, px, (id % 5).toInt,
              if (id % 4 == 0) Some(s"doc $id") else None)
            val (dw, dh, plane, crcOk) = PngCodec.decode(enc)
            var sr = 0L; var sg = 0L; var sb = 0L
            var j = 0
            while (j < plane.length) {
              val v = (plane(j) & 0xff).toLong
              (j % 3: @unchecked) match {
                case 0 => sr += v
                case 1 => sg += v
                case 2 => sb += v
              }
              j += 1
            }
            (dw.toLong, dh.toLong, dw.toLong * dh, sr, sg, sb,
              if (crcOk) 1L else 0L)
          }
        }
        .toDF("w", "h", "px", "sr", "sg", "sb", "ok")
        .groupBy(col("w").as("width"))
        .agg(count(lit(1)).as("n_images"), sum("px").as("n_pixels"),
          sum("sr").as("sum_r"), sum("sg").as("sum_g"), sum("sb").as("sum_b"),
          sum("ok").as("n_crc_ok"))
        .orderBy("width")
    }),

    "multimodal_resize" -> ((s, d) => {
      // the decode→TRANSFORM→encode path (thumbnailing / vision
      // preprocessing): synthesize the same P6 payloads as
      // multimodal_image_meta, nearest-neighbor 2×-downsample THE
      // BYTES (PpmCodec.downsample2: real decode, stride-2 plane walk,
      // real re-encode), then re-parse the resized image and profile
      // its dimensions + exact channel digests. The oracle recomputes
      // the even-coordinate pixel sums arithmetically, so any stride,
      // offset, or re-encode bug hash-mismatches. One mapPartitions
      // pass; the only shuffle is the per-width profile.
      import s.implicits._
      T.spread(T.documents(s, d).select(col("doc_id"))).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val w = (4 + id % 13).toInt
            val h = (3 + id % 7).toInt
            val px = Array.tabulate[Byte](w * h * 3)(j =>
              ((id * 7 + j.toLong * 13) % 256).toByte)
            val m = PpmCodec.parse(PpmCodec.downsample2(
              PpmCodec.encodeP6(w, h, px, comment = id % 4 == 0)))
            (m.width.toLong, m.height.toLong,
              m.width.toLong * m.height, m.sumR, m.sumG, m.sumB)
          }
        }
        .toDF("w", "h", "px", "sr", "sg", "sb")
        .groupBy(col("w").as("width"))
        .agg(count(lit(1)).as("n_images"), sum("px").as("n_pixels"),
          sum("sr").as("sum_r"), sum("sg").as("sum_g"), sum("sb").as("sum_b"))
        .orderBy("width")
    }),

    "multimodal_phash" -> ((s, d) => {
      // perceptual-hash image dedup — the near-dup detector byte
      // hashing can NOT be: a seeded %7 slice is re-ingested (under
      // out-of-range ids, the containment precedent) with its green/
      // blue channels rotated +97 — different BYTES, so dedup_exact's
      // sha256 would never pair them — while PpmCodec.dHash56 reads
      // only the red channel's 7×9 gradient grid FROM THE DECODED
      // PLANE, so each twin collides with its original exactly. Pairs
      // come from the bucket self-join on (w, h, phash) with buckets
      // CAPPED at 32 members — tiny smooth images collapse the 56-bit
      // space into a few degenerate hot hashes (measured: a 55-member
      // bucket = 1485 pairs at sf0.1), and the cap kills that
      // quadratic exactly as dedup_jaccard's df cap kills hot-shingle
      // buckets; SemanticsSpec pins seeded recall under it. `seeded`
      // separates the planted twins from natural collisions, and
      // `bytes_differ` (from full-plane digests) certifies the pair is
      // invisible to byte-level hashing. Oracle: the dHash bit
      // arithmetic is replayed per candidate by a generated 56-term
      // CASE chain from the SAME (r, c, weight) constants.
      import s.implicits._
      val base = T.spread(T.documents(s, d).select(col("doc_id"))).as[Long]
      val cands = base.flatMap(id =>
        if (id % 7 == 0) Seq(id, id + PhashTwinOffset) else Seq(id))
      val hp = cands.mapPartitions { ids =>
        // real pipeline: open the codec HERE, once per task.
        ids.map { id =>
          val m = if (id >= PhashTwinOffset) id - PhashTwinOffset else id
          val twin = id >= PhashTwinOffset
          val w = (4 + m % 13).toInt
          val h = (3 + m % 7).toInt
          val px = Array.tabulate[Byte](w * h * 3) { j =>
            val v = ((m * 7 + j.toLong * 13) % 256).toInt
            (if (twin && j % 3 != 0) (v + 97) % 256 else v).toByte
          }
          val bytes = PpmCodec.encodeP6(w, h, px, comment = m % 4 == 0)
          val meta = PpmCodec.parse(bytes)
          (id, PpmCodec.dHash56(bytes), w.toLong, h.toLong,
            meta.sumR + meta.sumG * 1000003L + meta.sumB * 1000033L)
        }
      }.toDF("doc_id", "phash", "w", "h", "plane_digest")
        // the hash table feeds three consumers (bucket-count window +
        // both join sides) — materialize so the codec pass (encode +
        // parse + dHash per image) runs once, not per consumer
        .localCheckpoint(true)
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy("phash", "w", "h")
      val capped = hp.withColumn("nb", count(lit(1)).over(wb))
        .filter(col("nb") <= 32).drop("nb")
      capped.as("x").join(capped.as("y"),
          col("x.phash") === col("y.phash") &&
            col("x.w") === col("y.w") && col("x.h") === col("y.h") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("x.phash").as("phash"),
          (col("y.doc_id") - col("x.doc_id") === PhashTwinOffset)
            .cast("int").as("seeded"),
          (col("x.plane_digest") =!= col("y.plane_digest"))
            .cast("int").as("bytes_differ"))
        .orderBy("a", "b")
    }),

    "mr_wordcount" -> ((s, d) => {
      // wordcount through the Mimir-style MapReduce facade (§2A):
      // map(tokenize) → map-side combine → reduce(sum).
      import s.implicits._
      // r18: spread the single-row-group scan so the closure map +
      // map-side combine run wide (sf1 profiled 4.0 s in ≤2 tasks; the
      // exchange moves only the 6 MB text column). The r17 decline was
      // measured at sf0.1 where the map work was ~0.2 s — at sf1 it is
      // 10× and the exchange cost is unchanged.
      val docs = T.spread(T.documents(s, d).select(col("text"))).as[String]
      val kvs = MapReduce.map(docs)(line =>
        line.split(" ").iterator.filter(_.nonEmpty).map(w => (w, 1L)))
      MapReduce.reduceByKey(kvs)(_ + _)
        .toDF("word", "n")
        .orderBy(col("n").desc, col("word"))
        .limit(100)
    })
  )

  /** twin-id offset for multimodal_phash's seeded re-ingest (the
    * dedup_containment out-of-range-id precedent). 2⁴⁰, NOT a
    * round 10⁷: the sf1 fixture replicates the corpus with ids
    * strided by Replicate.IdOffset = 10⁷, and the original 10⁷
    * offset made every replica doc (id ≥ 10⁷) parse as a synthetic
    * twin of base doc id−10⁷ — 250 phantom "seeded" rows at sf1.
    * Any corpus whose ids approach 2⁴⁰ (a trillion docs) needs a
    * max(doc_id)+1 derivation like dedup_containment's instead. */
  private val PhashTwinOffset = 1L << 40

  /** the dHash56 bit arithmetic as a generated SQL CASE chain — emitted
    * from the SAME (r, c, weight) constants the codec packs with, the
    * ts_ewma generated-chain rule; expects columns m (media basis),
    * w, h on the input relation. Red channel only: byte j = 3·(y·w+x),
    * value (m·7 + j·13) % 256 — untouched by the twin chroma rotation.
    */
  private def phashTermsSql: String =
    (for { r <- 0 until 7; c <- 0 until 8 } yield {
      def v(cc: Int) =
        s"((m*7 + 39*(((${r}*(h-1))//6)*w + ((${cc}*(w-1))//8))) % 256)"
      s"CASE WHEN ${v(c + 1)} > ${v(c)} THEN ${1L << (r * 8 + c)} ELSE 0 END"
    }).mkString(" + ")

  /** PageRank constants shared by the query and the generated oracle. */
  private val PrDamping = 0.85
  private val PrIters = 3
  private val KCoreRounds = 3
  private val LpaRounds = 3

  // ---- shared quotient-graph artifacts (r17, the minePairs/spanCovered
  // SessionMemo pattern): graph_community, graph_modularity and
  // graph_jaccard_neighbors each rebuilt the IDENTICAL deduped quotient
  // adjacency (orders scan → pmod → distinct), and community+modularity
  // each ran the same 3-round label propagation; graph_triangles and
  // graph_clustering_coeff each ran the same compact-forward triangle
  // count. One build per (session, sfDir), persisted MEMORY_AND_DISK;
  // whichever key runs first pays it, the family SUM is the regression
  // signal (the Bench contract for memoized families since round 3).

  /** deduped undirected quotient adjacency (node, nbr), both directions. */
  private def quotientAdj(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.SessionMemo(s, s"quotient-adj:$d") {
      val und = T.spread(T.orders(s, d).select(
          pmod(col("o_custkey"), lit(1000L)).as("src"),
          pmod(col("o_orderkey"), lit(1000L)).as("dst")))
        .filter(col("src") =!= col("dst"))
      und.select(col("src").as("node"), col("dst").as("nbr"))
        .unionAll(und.select(col("dst").as("node"), col("src").as("nbr")))
        .distinct()
    }

  /** the 3-round LPA labels over [[quotientAdj]] — community detection
    * result consumed by graph_community AND graph_modularity. */
  private def lpaLabels(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.SessionMemo(s, s"lpa-labels:$d")(
      graft.ops.LabelPropagation.run(quotientAdj(s, d), LpaRounds))

  /** per-node triangle participation on the quotient graph — consumed
    * by graph_triangles (top-20) and graph_clustering_coeff (Σ = 3T). */
  private def quotientTriangles(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.SessionMemo(s, s"quotient-tri:$d") {
      val edges = T.spread(T.orders(s, d).select(
        pmod(col("o_custkey"), lit(1000L)).as("src"),
        pmod(col("o_orderkey"), lit(1000L)).as("dst")))
      graft.ops.Triangles.perNodeAuto(edges)
    }

  /** the label-propagation oracle: the identical synchronous mode-label
    * rounds unrolled as a CTE chain (tie-break = smallest label, the
    * rank-1 window replay of the operator's max(struct(cnt, -lbl))). */
  /** the LPA CTE chain (WITH-body only, final labels in l$rounds) —
    * shared by the graph_community oracle and the graph_modularity
    * oracle, which scores the same detected partition. */
  private def lpaCtes(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""c$i AS (
         |  SELECT a.node, l.lbl, COUNT(*) AS cnt
         |  FROM adj a JOIN l${i - 1} l ON a.nbr = l.node GROUP BY 1, 2),
         |l$i AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |           ROW_NUMBER() OVER (PARTITION BY node
         |             ORDER BY cnt DESC, lbl) AS rk
         |    FROM c$i) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""e AS (
       |  SELECT o_custkey % 1000 AS src, o_orderkey % 1000 AS dst
       |  FROM orders WHERE o_custkey % 1000 <> o_orderkey % 1000),
       |adj AS (
       |  SELECT src AS node, dst AS nbr FROM e
       |  UNION
       |  SELECT dst AS node, src AS nbr FROM e),
       |l0 AS (SELECT DISTINCT node, node AS lbl FROM adj),
       |$steps""".stripMargin
  }

  private def lpaSql(rounds: Int): String =
    s"""WITH ${lpaCtes(rounds)}
       |SELECT node, lbl AS community FROM l$rounds ORDER BY node""".stripMargin

  /** the modularity oracle: the identical LPA chain, then exact-BIGINT
    * per-community edge/degree sums and the one shared IEEE division. */
  private def modularitySql(rounds: Int): String =
    s"""WITH ${lpaCtes(rounds)},
       |und AS (SELECT node AS a, nbr AS b FROM adj WHERE node < nbr),
       |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
       |dcs AS (
       |  SELECT l.lbl AS community, CAST(SUM(d.deg) AS BIGINT) AS dc,
       |         CAST(COUNT(*) AS BIGINT) AS n_nodes
       |  FROM (SELECT node, COUNT(*) AS deg FROM adj GROUP BY 1) d
       |  JOIN l$rounds l ON d.node = l.node GROUP BY 1),
       |ecs AS (
       |  SELECT la.lbl AS community, CAST(COUNT(*) AS BIGINT) AS ec
       |  FROM und u
       |  JOIN l$rounds la ON u.a = la.node
       |  JOIN l$rounds lb ON u.b = lb.node
       |  WHERE la.lbl = lb.lbl GROUP BY 1)
       |SELECT d.community, d.n_nodes, d.dc,
       |       CAST(COALESCE(e.ec, 0) AS BIGINT) AS ec,
       |       CAST(ROUND(1e6 * (4*m*CAST(COALESCE(e.ec, 0) AS BIGINT) - d.dc*d.dc)
       |         / (4e0*m*m)) AS BIGINT) AS q_micro
       |FROM dcs d LEFT JOIN ecs e USING (community) CROSS JOIN mm
       |ORDER BY community""".stripMargin

  /** the k-core oracle: the identical fixed-round peel unrolled as a
    * CTE chain over the shared 1000-node quotient graph. */
  private def kcoreSql(rounds: Int): String = {
    val und =
      """und AS (
        |  SELECT DISTINCT LEAST(o_custkey % 1000, o_orderkey % 1000) AS a,
        |         GREATEST(o_custkey % 1000, o_orderkey % 1000) AS b
        |  FROM orders WHERE o_custkey % 1000 != o_orderkey % 1000),
        |kk AS (
        |  SELECT CAST(CEIL(1.6 * (SELECT COUNT(*) FROM und)
        |    / (SELECT COUNT(DISTINCT n) FROM
        |       (SELECT a AS n FROM und UNION ALL SELECT b FROM und))) AS BIGINT) AS k),
        |e0 AS (SELECT a, b FROM und)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""d${i - 1} AS (
         |  SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM
         |  (SELECT a AS n FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1),
         |kp$i AS (SELECT node FROM d${i - 1}, kk WHERE deg >= k),
         |e$i AS (
         |  SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT node FROM kp$i) AND b IN (SELECT node FROM kp$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH $und,
       |$steps
       |SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM
       |(SELECT a AS n FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       |GROUP BY 1 ORDER BY node""".stripMargin
  }

  /** the same recurrence as ops/PageRank, unrolled as a CTE chain —
    * generated from the shared constants so query and oracle cannot
    * drift (the agg_spatial_octree pattern). */
  /** Unrolls the PageRank recurrence as a CTE chain from the same
    * (damping, iters) constants the operator runs with; `edgeCte`
    * supplies the graph (src, dst, w DOUBLE). Shared by the quotient
    * and raw keys — same recurrence, different edge derivation. */
  private def pagerankSql(d: Double, iters: Int, edgeCte: String): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, SUM(p.pr * e.wn) AS cin
         |  FROM en e JOIN pr${i - 1} p ON e.src = p.node GROUP BY 1),
         |pr$i AS (
         |  SELECT nodes.node,
         |         (1.0 - $d) / (SELECT n FROM nn) + $d * COALESCE(c$i.cin, 0.0) AS pr
         |  FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  $edgeCte),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
       |en AS (
       |  SELECT e.src, e.dst, e.w / ow.outw AS wn
       |  FROM e JOIN (SELECT src, SUM(w) AS outw FROM e GROUP BY 1) ow
       |    ON e.src = ow.src),
       |pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
       |$rounds
       |SELECT node, ROUND(pr, 8) AS pr FROM pr$iters
       |ORDER BY pr DESC, node LIMIT 50""".stripMargin
  }

  private val QuotientEdgeCte =
    """SELECT o_custkey % 1000 AS src, o_orderkey % 1000 AS dst,
      |         CAST(COUNT(*) AS DOUBLE) AS w
      |  FROM orders GROUP BY 1, 2""".stripMargin

  private val RawFkEdgeCte =
    """SELECT 'c:' || o_custkey AS src, 'o:' || o_orderkey AS dst,
      |         CAST(COUNT(*) AS DOUBLE) AS w
      |  FROM orders GROUP BY 1, 2""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "multimodal_phash" ->
      s"""WITH cand AS (
         |  SELECT doc_id AS id, doc_id AS m, 0 AS twin FROM documents
         |  UNION ALL
         |  SELECT doc_id + $PhashTwinOffset, doc_id, 1 FROM documents
         |  WHERE doc_id % 7 = 0),
         |dims AS (SELECT id, m, twin, 4 + m % 13 AS w, 3 + m % 7 AS h
         |         FROM cand),
         |pix AS (SELECT id, twin, m,
         |               unnest(range(0, 3*w*h)) AS j FROM dims),
         |pv AS (
         |  SELECT id, j % 3 AS ch,
         |         CASE WHEN twin = 1 AND j % 3 <> 0
         |              THEN ((m*7 + j*13) % 256 + 97) % 256
         |              ELSE (m*7 + j*13) % 256 END AS v
         |  FROM pix),
         |dig AS (
         |  SELECT id,
         |         SUM(CASE WHEN ch = 0 THEN v ELSE 0 END)
         |       + SUM(CASE WHEN ch = 1 THEN v ELSE 0 END) * 1000003
         |       + SUM(CASE WHEN ch = 2 THEN v ELSE 0 END) * 1000033 AS pd
         |  FROM pv GROUP BY id),
         |hp AS (
         |  SELECT d.id, d.w, d.h,
         |         CAST($phashTermsSql AS BIGINT) AS phash, g.pd
         |  FROM dims d JOIN dig g ON d.id = g.id),
         |capped AS (
         |  SELECT * FROM (
         |    SELECT *, COUNT(*) OVER (PARTITION BY phash, w, h) AS nb
         |    FROM hp) WHERE nb <= 32)
         |SELECT x.id AS a, y.id AS b, x.phash AS phash,
         |       CAST(CASE WHEN y.id - x.id = $PhashTwinOffset
         |            THEN 1 ELSE 0 END AS INT) AS seeded,
         |       CAST(CASE WHEN x.pd <> y.pd THEN 1 ELSE 0 END AS INT) AS bytes_differ
         |FROM capped x JOIN capped y
         |  ON x.phash = y.phash AND x.w = y.w AND x.h = y.h AND x.id < y.id
         |ORDER BY a, b""".stripMargin,

    "graph_jaccard_neighbors" ->
      """WITH e AS (
        |  SELECT o_custkey % 1000 AS src, o_orderkey % 1000 AS dst
        |  FROM orders WHERE o_custkey % 1000 <> o_orderkey % 1000),
        |adj AS (
        |  SELECT src AS node, dst AS nbr FROM e
        |  UNION
        |  SELECT dst AS node, src AS nbr FROM e),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM adj GROUP BY node),
        |inter AS (
        |  SELECT x.node AS a, y.node AS b, CAST(COUNT(*) AS BIGINT) AS ni
        |  FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
        |  GROUP BY 1, 2)
        |SELECT a, b, ni,
        |       ROUND(CAST(ni AS DOUBLE) / (da.deg + db.deg - ni), 6) AS j
        |FROM inter
        |JOIN deg da ON inter.a = da.node
        |JOIN deg db ON inter.b = db.node
        |ORDER BY j DESC, a, b LIMIT 25""".stripMargin,

    "graph_degree_hist" -> {
      val cases = (0 to 9).map(i =>
        s"WHEN deg < ${1L << (i + 1)} THEN $i").mkString(" ")
      s"""WITH und AS (
         |  SELECT DISTINCT LEAST(o_custkey % 1000, o_orderkey % 1000) AS a,
         |         GREATEST(o_custkey % 1000, o_orderkey % 1000) AS b
         |  FROM orders
         |  WHERE o_custkey % 1000 <> o_orderkey % 1000),
         |deg AS (
         |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         |  GROUP BY node)
         |SELECT CAST(CASE $cases ELSE 10 END AS INT) AS bucket,
         |       CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |       MIN(deg) AS min_deg, MAX(deg) AS max_deg
         |FROM deg GROUP BY 1 ORDER BY bucket""".stripMargin
    },

    "graph_community" -> lpaSql(LpaRounds),

    "graph_modularity" -> modularitySql(LpaRounds),

    "graph_pagerank" -> pagerankSql(PrDamping, PrIters, QuotientEdgeCte),

    // raw-FK PageRank, oracled since round 12: the bipartite
    // customer→order graph gives every node at most ONE in-edge
    // (orders: their customer; customers: none), so each round's
    // contribution sum is a single-element fold — no cross-engine
    // float-fold-order risk anywhere, and the identical unrolled
    // recurrence replays exactly. Node ids are strings on both sides
    // ('c:'/'o:' prefixes) with binary collation in both engines.
    "graph_pagerank_raw" -> pagerankSql(PrDamping, PrIters, RawFkEdgeCte),

    // raw co-purchase triangles, oracled since round 12: pure-integer
    // outputs (per-node counts on the DISTINCT canonical edge set —
    // Triangles.perNode dedupes internally), so the brute-force
    // id-ordered 3-way join replays it exactly; measured ~4 s in
    // DuckDB at sf0.1.
    "graph_triangles_raw" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |und AS (SELECT DISTINCT o1.p AS a, o2.p AS b
        |        FROM op o1 JOIN op o2 ON o1.ok = o2.ok AND o1.p < o2.p),
        |tri AS (SELECT u1.a AS x, u1.b AS y, u2.b AS z
        |        FROM und u1 JOIN und u2 ON u2.a = u1.b
        |        JOIN und u3 ON u3.a = u1.a AND u3.b = u2.b),
        |corners AS (SELECT unnest([x, y, z]) AS node FROM tri)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        |FROM corners GROUP BY node
        |ORDER BY n_tri DESC, node LIMIT 20""".stripMargin,

    "graph_kcore" -> kcoreSql(KCoreRounds),

    "graph_clustering_coeff" ->
      """WITH und AS (
        |  SELECT DISTINCT LEAST(o_custkey % 1000, o_orderkey % 1000) AS a,
        |         GREATEST(o_custkey % 1000, o_orderkey % 1000) AS b
        |  FROM orders WHERE o_custkey % 1000 != o_orderkey % 1000),
        |deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY node),
        |w AS (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
        |tri AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS t
        |  FROM und e1 JOIN und e2 ON e1.b = e2.a
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT n_wedges, t AS n_tri,
        |       ROUND(3 * t / CAST(n_wedges AS DOUBLE), 6) AS global_cc
        |FROM w CROSS JOIN tri""".stripMargin,

    // brute-force id-ordered 3-way join — orientation-independent, so
    // it oracles the compact-forward operator's output exactly
    "graph_triangles" ->
      """WITH und AS (
        |  SELECT DISTINCT LEAST(o_custkey % 1000, o_orderkey % 1000) AS a,
        |         GREATEST(o_custkey % 1000, o_orderkey % 1000) AS b
        |  FROM orders WHERE o_custkey % 1000 != o_orderkey % 1000),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM und e1 JOIN und e2 ON e1.b = e2.a
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (
        |  SELECT unnest([x, y, z]) AS node FROM tri)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        |FROM corners GROUP BY node
        |ORDER BY n_tri DESC, node LIMIT 20""".stripMargin,

    "graph_bfs_levels" ->
      """SELECT node_kind, node_key, level FROM (
        |  SELECT 'region' AS node_kind, CAST(r_regionkey AS BIGINT) AS node_key, 0 AS level
        |  FROM region WHERE r_name = 'AMERICA'
        |  UNION ALL
        |  SELECT 'nation', CAST(n_nationkey AS BIGINT), 1
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'AMERICA'
        |  UNION ALL
        |  SELECT 'customer', c_custkey, 2
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'AMERICA')
        |ORDER BY level, node_kind, node_key""".stripMargin,

    "multimodal_join" ->
      """SELECT lang, label, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(AVG(n_chars), 2) AS avg_chars,
        |       ROUND(AVG(sqrt(list_dot_product(v, v))), 4) AS avg_norm
        |FROM (SELECT lang, label, n_chars,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |      FROM documents JOIN embeddings ON doc_id = vec_id)
        |GROUP BY lang, label ORDER BY lang, label""".stripMargin,

    // the stub decoder is a 31-polynomial byte hash mod 1e9+7 —
    // reproduced here on the text bytes (ASCII corpus ⇒ LENGTH == bytes)
    "multimodal_features" ->
      """SELECT doc_id,
        |       CAST(LENGTH(text) AS INT) AS n_bytes,
        |       CAST(unicode(substring(text, 1, 1)) AS INT) AS head_byte,
        |       CAST(list_reduce(
        |              list_prepend(CAST(0 AS BIGINT),
        |                list_transform(regexp_extract_all(text, '.', 0),
        |                               c -> CAST(unicode(c) AS BIGINT))),
        |              (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS crc_mod
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "multimodal_framesample" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         unnest(range(0, CAST(ceil(LENGTH(text) / 16.0) AS BIGINT))) AS frame_idx,
        |         text
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id, frame_idx,
        |       CAST(LENGTH(substring(text, CAST(frame_idx * 16 + 1 AS INT), 16)) AS INT) AS fr_bytes,
        |       CAST(list_reduce(
        |              list_prepend(CAST(0 AS BIGINT),
        |                list_transform(
        |                  regexp_extract_all(substring(text, CAST(frame_idx * 16 + 1 AS INT), 16), '.', 0),
        |                  c -> CAST(unicode(c) AS BIGINT))),
        |              (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS fr_crc
        |FROM f WHERE frame_idx % 4 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // the Spark side synthesizes REAL WAV bytes and parses them back
    // (WavCodec); the oracle recomputes the expected metadata + the
    // exact Σ|sample| digest from the shared doc_id arithmetic — a
    // parser bug anywhere in the byte path breaks the hash match.
    // Integer division `//` mirrors the JVM's truncating long division.
    "multimodal_audio_meta" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         8000 + (doc_id % 3) * 4000 AS sample_rate,
        |         1 + (doc_id % 2) AS n_channels,
        |         64 + (doc_id % 128) AS nf
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, sample_rate, n_channels, nf,
        |         unnest(range(0, nf * n_channels)) AS i
        |  FROM p),
        |a AS (
        |  SELECT doc_id, sample_rate, n_channels, nf,
        |         SUM(ABS(((doc_id * 31 + i * 17) % 65536) - 32768)) AS sa
        |  FROM s GROUP BY 1, 2, 3, 4)
        |SELECT CAST(sample_rate AS BIGINT) AS sample_rate,
        |       CAST(n_channels AS BIGINT) AS n_channels,
        |       CAST(COUNT(*) AS BIGINT) AS n_clips,
        |       CAST(SUM(nf) AS BIGINT) AS n_frames,
        |       CAST(SUM((nf * 1000000) // sample_rate) AS BIGINT) AS dur_us,
        |       CAST(SUM(sa) AS BIGINT) AS sum_abs
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // PPM twin of the WAV oracle: per-channel sums recomputed from the
    // shared pixel arithmetic (channel = byte index % 3).
    // the resized plane's expectations, recomputed arithmetically: out
    // pixel (x2, y2) reads source index (2*y2*w + 2*x2)*3 + channel
    "multimodal_resize" ->
      """WITH p AS (
        |  SELECT doc_id, 4 + (doc_id % 13) AS w, 3 + (doc_id % 7) AS h
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, w, (w + 1) // 2 AS w2, (h + 1) // 2 AS h2 FROM p),
        |s AS (
        |  SELECT doc_id, w, w2, h2, unnest(range(0, w2 * h2)) AS p2
        |  FROM q),
        |c AS (
        |  SELECT doc_id, w2, h2,
        |         (2 * (p2 // w2) * w + 2 * (p2 % w2)) * 3 AS j0
        |  FROM s),
        |a AS (
        |  SELECT doc_id, w2, h2,
        |         SUM((doc_id * 7 + j0 * 13) % 256) AS sr,
        |         SUM((doc_id * 7 + (j0 + 1) * 13) % 256) AS sg,
        |         SUM((doc_id * 7 + (j0 + 2) * 13) % 256) AS sb
        |  FROM c GROUP BY 1, 2, 3)
        |SELECT CAST(w2 AS BIGINT) AS width,
        |       CAST(COUNT(*) AS BIGINT) AS n_images,
        |       CAST(SUM(w2 * h2) AS BIGINT) AS n_pixels,
        |       CAST(SUM(sr) AS BIGINT) AS sum_r,
        |       CAST(SUM(sg) AS BIGINT) AS sum_g,
        |       CAST(SUM(sb) AS BIGINT) AS sum_b
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,

    "multimodal_image_meta" ->
      """WITH p AS (
        |  SELECT doc_id, 4 + (doc_id % 13) AS w, 3 + (doc_id % 7) AS h
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS j
        |  FROM p),
        |a AS (
        |  SELECT doc_id, w, h,
        |         SUM(CASE WHEN j % 3 = 0 THEN (doc_id * 7 + j * 13) % 256 ELSE 0 END) AS sr,
        |         SUM(CASE WHEN j % 3 = 1 THEN (doc_id * 7 + j * 13) % 256 ELSE 0 END) AS sg,
        |         SUM(CASE WHEN j % 3 = 2 THEN (doc_id * 7 + j * 13) % 256 ELSE 0 END) AS sb
        |  FROM s GROUP BY 1, 2, 3)
        |SELECT CAST(w AS BIGINT) AS width,
        |       CAST(COUNT(*) AS BIGINT) AS n_images,
        |       CAST(SUM(w * h) AS BIGINT) AS n_pixels,
        |       CAST(SUM(sr) AS BIGINT) AS sum_r,
        |       CAST(SUM(sg) AS BIGINT) AS sum_g,
        |       CAST(SUM(sb) AS BIGINT) AS sum_b
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,

    // the PNG roundtrip is LOSSLESS, so the arithmetic that synthesized
    // each plane replays the DECODED profile exactly — any filter,
    // inflate, defilter, or chunk-walk bug hash-mismatches; n_crc_ok
    // must equal n_images (every stream CRC-verified)
    "multimodal_png_roundtrip" ->
      """WITH p AS (
        |  SELECT doc_id, 5 + (doc_id % 11) AS w, 4 + (doc_id % 5) AS h
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS j
        |  FROM p),
        |a AS (
        |  SELECT doc_id, w, h,
        |         SUM(CASE WHEN j % 3 = 0 THEN (doc_id * 11 + j * 17) % 256 ELSE 0 END) AS sr,
        |         SUM(CASE WHEN j % 3 = 1 THEN (doc_id * 11 + j * 17) % 256 ELSE 0 END) AS sg,
        |         SUM(CASE WHEN j % 3 = 2 THEN (doc_id * 11 + j * 17) % 256 ELSE 0 END) AS sb
        |  FROM s GROUP BY 1, 2, 3)
        |SELECT CAST(w AS BIGINT) AS width,
        |       CAST(COUNT(*) AS BIGINT) AS n_images,
        |       CAST(SUM(w * h) AS BIGINT) AS n_pixels,
        |       CAST(SUM(sr) AS BIGINT) AS sum_r,
        |       CAST(SUM(sg) AS BIGINT) AS sum_g,
        |       CAST(SUM(sb) AS BIGINT) AS sum_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_crc_ok
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,

    "mr_wordcount" ->
      """SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE word <> ''
        |GROUP BY word ORDER BY n DESC, word LIMIT 100""".stripMargin
  )
}
