package graft.operators

import graft.functions.Vec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Product quantization — the memory-side scale path the reference's
  * in-RAM float index cannot take at 100 TB: vectors compress to m
  * subspace codes (dim floats → m codes; the data-sized m keeps about
  * 8 floats per subspace, 200 floats → 25 codes), ADC search scans
  * codes against a per-query lookup table and only the rerank touches
  * real vectors. Subspace codebooks come from the same deterministic
  * quantized-exact k-means as IVF (Ivf.centroids), so build, codes,
  * and search are bit-stable under any partitioning.
  *
  * Scale shape: train = ONE read of the train set per Lloyd round for
  * all m subspaces (driver-side over one collect when it fits, else
  * one scan + one (sub, cid) aggregation per round); encode = one scan
  * with the broadcast m×ksub codebook (no shuffle); search =
  * BruteForce-style per-partition kernel over the codes with a
  * broadcast Q×m×ksub LUT — the full-vector table is never read until
  * rerank.
  */
object Pq {

  /** Per-subspace codebooks: (sub, cid, cv array<double> of dsub),
    * each subspace bit-identical to Ivf.centroids over its slice
    * `slice(embedding, sub·dsub + 1, dsub)` (PqSpec). `dim` = the
    * embedding width (the caller's memoized Tables.embDim — no probe
    * job). Every Lloyd round reads the train set ONCE for all m
    * subspaces:
    *   - driver branch (`nHint` = the train-row count, under
    *     Ivf.fusedFits for the n × dim collect and the per-subspace
    *     n·ksub·dsub round): collect (vec_id, embedding) once, run the
    *     shared Ivf.lloyd loop per subspace over in-memory slices;
    *   - DataFrame branch (gate miss or no hint): see trainScans. */
  def train(emb: DataFrame, dim: Int, m: Int, ksub: Int, iters: Int,
      nHint: Option[Long] = None): DataFrame = {
    require(dim % m == 0, s"PQ subspaces must tile the dimension: dim=$dim m=$m")
    val dsub = dim / m
    val books = nHint
      .filter(n => Ivf.fusedFits(n, dim, ksub, dsub))
      .flatMap(_ => Ivf.collectFloatRows(emb)) match {
      case Some(rows) => (0 until m).map { s =>
          val off = s * dsub
          // Array.slice truncates like SQL slice() on a short row
          Ivf.lloyd(rows.map { case (id, v) => (id, v.slice(off, off + dsub)) }, ksub, iters)
        }
      case None => trainScans(emb, dsub, m, ksub, iters)
    }
    val spark = emb.sparkSession
    import spark.implicits._
    spark.createDataset(books.zipWithIndex.flatMap { case ((cids, cvs), sub) =>
      cids.indices.map(i => (sub, cids(i), cvs(i).toSeq))
    }).toDF("sub", "cid", "cv")
  }

  /** The distributed Lloyd loop for all m subspaces at once, with the
    * banks held on the driver (m × ksub × dsub doubles):
    *   - init = the ksub lowest vec_ids, read once (cid = rank), sliced
    *     per subspace;
    *   - each round = ONE scan + ONE aggregation: PqEncodeCodes assigns
    *     every subspace (bit-identical to per-subspace VecNearestCid —
    *     PqSpec), posexplode pairs each (sub, cid) with its slice, and
    *     a (sub, cid) Moments aggregation yields the next banks; only
    *     non-empty cells survive, as in Ivf.centroids' groupBy.
    * pqIndex reaches it for ≥512d corpora past 262k vectors (ksub 256:
    * the ~33–37k × dim train collect outgrows the bank cap) and for
    * ≥1024d past 65k; up to 384d its train set always fits the driver
    * branch. */
  private def trainScans(emb: DataFrame, dsub: Int, m: Int, ksub: Int,
      iters: Int): IndexedSeq[(Array[Long], Array[Array[Double]])] = {
    val init = emb.orderBy(col("vec_id")).limit(ksub)
      .select(col("vec_id"), Vec.asD(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    var books = (0 until m).map { s =>
      (Array.tabulate(init.length)(_.toLong), init.map(_.slice(s * dsub, s * dsub + dsub)))
    }
    val bc = org.apache.spark.sql.graftbridge.Bridge
    for (_ <- 1 to iters) {
      val codes = bc.column(graft.functions.PqEncodeCodes(bc.expr(col("embedding")), dsub,
        books.map(_._1).toArray, books.map(_._2).toArray))
      val next = emb.select(codes.as("codes"), col("embedding"))
        .select(posexplode(col("codes")).as(Seq("sub", "cid")), col("embedding"))
        .groupBy(col("sub"), col("cid"))
        .agg(Moments.moments(dsub)(
          slice(col("embedding"), col("sub") * dsub + 1, lit(dsub))).as("m"))
        .select(col("sub"), col("cid"), transform(col("m.sums"),
          x => x.cast("double") / col("m.n") / lit(1000000.0)).as("cv"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1).toLong, r.getSeq[Double](2).toArray))
        .groupBy(_._1)
      books = (0 until m).map { s =>
        val cells = next(s).sortBy(_._2)
        (cells.map(_._2), cells.map(_._3))
      }
    }
    books
  }

  private def collectBanks(
      cents: DataFrame, m: Int): (Array[Array[Long]], Array[Array[Array[Double]]]) = {
    val bySub: Map[Int, Array[(Long, Array[Double])]] =
      cents.select(col("sub"), col("cid"), col("cv")).collect()
        .map(r => (r.getInt(0), (r.getLong(1), r.getSeq[Double](2).toArray)))
        .groupBy(_._1).map { case (s, rows) => s -> rows.map(_._2).sortBy(_._1) }
    val banks = (0 until m).map(s =>
      bySub.getOrElse(s, sys.error(s"PQ codebook missing subspace $s"))).toArray
    (banks.map(_.map(_._1)), banks.map(_.map(_._2)))
  }

  /** Encode every vector: (vec_id, codes array<int> of m). ALL m
    * subspace argmins run in ONE PqEncodeCodes codegen kernel over the
    * driver-collected codebooks — one map-only scan, zero generated
    * rows, zero shuffle, and a plan whose generated-code size is
    * independent of m.
    *
    * Two dead formulations, both killed by measurement:
    * (1) posexplode × broadcast-join × min(struct) generated N·m·ksub
    *     rows into an N·m-group aggregation — fine at 1M×8×16 (1.3e8),
    *     fatal at 10M×8×256 (2e10 rows whose sort-based fallback
    *     filled the disk in the round-10 scale run; lesson 22/30).
    * (2) m × (slice + VecNearestCid) columns in one Project — fine at
    *     m≤16, but at the 200d rule's m=50 the Project fell out of
    *     whole-stage codegen and every kernel ran interpreted; the
    *     2M×200d encode never finished (round-10 open item 36).
    * PqSpec pins the fused kernel bit-identical to form (2) at
    * m ∈ {8, 16, 50}. */
  def encode(emb: DataFrame, cents: DataFrame, dim: Int, m: Int): DataFrame = {
    require(dim % m == 0, s"PQ subspaces must tile the dimension: dim=$dim m=$m")
    val dsub = dim / m
    val bc = org.apache.spark.sql.graftbridge.Bridge
    val (cids, banks) = collectBanks(cents, m)
    emb.select(col("vec_id"),
      bc.column(graft.functions.PqEncodeCodes(
        bc.expr(col("embedding")), dsub, cids, banks)).as("codes"))
  }

  /** The retired per-subspace column form (dead formulation (2) above),
    * kept ONLY as the spec oracle for PqSpec's kernel bit-equality —
    * never call it on a real corpus at large m. */
  private[graft] def encodePerSubspace(emb: DataFrame, cents: DataFrame, dim: Int,
      m: Int): DataFrame = {
    require(dim % m == 0, s"PQ subspaces must tile the dimension: dim=$dim m=$m")
    val dsub = dim / m
    val bc = org.apache.spark.sql.graftbridge.Bridge
    val (cids, banks) = collectBanks(cents, m)
    val codeCols = (0 until m).map { s =>
      bc.column(graft.functions.VecNearestCid(
        bc.expr(slice(col("embedding"), s * dsub + 1, dsub)),
        cids(s), banks(s))).cast("int")
    }
    emb.select(col("vec_id"), array(codeCols: _*).as("codes"))
  }

  /** ADC top-k per query over the codes table (asymmetric distance:
    * sum over subspaces of ||q_sub − centroid[code]||²), BruteForce-
    * style bounded pools per partition, TopKAgg merge. Returns
    * (qid, rnk, bid, adist). */
  def searchAdc(
      codes: DataFrame, // vec_id, codes
      cents: DataFrame, // sub, cid, cv
      queries: DataFrame, // qid, qv (array<float>)
      m: Int,
      ksub: Int,
      k: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val centArr = new Array[Array[Double]](m * ksub)
    cents.select(col("sub"), col("cid"), col("cv"))
      .collect().foreach { r =>
        centArr(r.getInt(0) * ksub + r.getLong(1).toInt) =
          r.getSeq[Double](2).toArray
      }
    val qArr: Array[(Long, Array[Float])] =
      queries.select(col("qid"), col("qv")).as[(Long, Array[Float])]
        .collect().sortBy(_._1)
    val bcC = spark.sparkContext.broadcast(centArr)
    val bcQ = spark.sparkContext.broadcast(qArr)
    val mL = m; val ksubL = ksub

    val pooled = codes.select(col("vec_id"), col("codes")).as[(Long, Array[Int])]
      .mapPartitions { it =>
        val cA = bcC.value
        val qs = bcQ.value
        val nq = qs.length
        // subspace width from ANY surviving centroid — cell (0,0) can
        // legitimately empty out during Lloyd rounds, and dsub=0 would
        // silently zero every ADC distance
        val dsub = cA.collectFirst { case cv if cv != null => cv.length }.getOrElse(0)
        require(dsub > 0, "PQ codebook has no centroids")
        // per-query LUT: lut(qi)(s*ksub + c) = ||q_sub − cent(s,c)||²
        val lut = Array.tabulate(nq) { qi =>
          val qv = qs(qi)._2
          val t = new Array[Double](mL * ksubL)
          var s = 0
          while (s < mL) {
            var c = 0
            while (c < ksubL) {
              val cv = cA(s * ksubL + c)
              var acc = 0.0
              if (cv != null) {
                var i = 0
                while (i < dsub) {
                  val d = qv(s * dsub + i).toDouble - cv(i)
                  acc += d * d; i += 1
                }
              } else acc = Double.MaxValue
              t(s * ksubL + c) = acc
              c += 1
            }
            s += 1
          }
          t
        }
        val poolS = Array.fill(nq)(new Array[Double](k))
        val poolI = Array.fill(nq)(new Array[Long](k))
        val sizes = new Array[Int](nq)
        def beats(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
          val n1 = java.lang.Double.isNaN(s1); val n2 = java.lang.Double.isNaN(s2)
          if (n1 || n2) { if (n1 != n2) !n1 else i1 < i2 }
          else if (s1 != s2) s1 < s2
          else i1 < i2
        }
        def insert(qi: Int, s: Double, id: Long): Unit = {
          val sz = sizes(qi)
          val ss = poolS(qi); val ii = poolI(qi)
          if (sz == k && beats(ss(k - 1), ii(k - 1), s, id)) return
          var pos = sz
          while (pos > 0 && beats(s, id, ss(pos - 1), ii(pos - 1))) pos -= 1
          if (pos >= k) return
          var j = math.min(sz, k - 1)
          while (j > pos) { ss(j) = ss(j - 1); ii(j) = ii(j - 1); j -= 1 }
          ss(pos) = s; ii(pos) = id
          if (sz < k) sizes(qi) = sz + 1
        }
        // TILED scan: buffer a block of code rows, then loop QUERIES
        // outer so each query's 16KB LUT stays cache-hot across the
        // whole block. The row-outer form streamed all nq LUTs
        // (nq × m × ksub doubles — 160 MB at 10k × 8 × 256) through
        // cache PER CODE ROW and was memory-bandwidth-bound: the 10M
        // ADC scan cost 2,440 s against the 800 s brute-force scan
        // with 8× the flops (r10 measurement). Pool results are
        // insertion-order independent under the total (score, id)
        // order, so tiling is bit-invisible.
        val Block = 4096
        val blkIds = new Array[Long](Block)
        val blkCodes = new Array[Array[Int]](Block)
        while (it.hasNext) {
          var bn = 0
          while (bn < Block && it.hasNext) {
            val (bid, cs) = it.next()
            blkIds(bn) = bid; blkCodes(bn) = cs; bn += 1
          }
          var qi = 0
          while (qi < nq) {
            val t = lut(qi)
            var r = 0
            while (r < bn) {
              val cs = blkCodes(r)
              var acc = 0.0
              var s = 0
              while (s < mL) { acc += t(s * ksubL + cs(s)); s += 1 }
              insert(qi, acc, blkIds(r))
              r += 1
            }
            qi += 1
          }
        }
        Iterator.range(0, nq).flatMap { qi =>
          val qid = qs(qi)._1
          Iterator.range(0, sizes(qi)).map(j => (qid, poolI(qi)(j), poolS(qi)(j)))
        }
      }.toDF("qid", "bid", "adist")
    TopK.perGroup(pooled, "qid", "bid", "adist", k, asc = true)
      .select(col("qid"), col("rnk"), col("bid"), col("adist"))
  }
}
