package graft.ext

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField}

import graft.util.Portable.pround
import Similarity.{dot, toDoubleArr}

/** The index lifecycle every persisted ANN layout shares: a
  * per-partition build against frozen learners, a merge of committed
  * parts, and the incremental refresh that strings them together over
  * [[IndexStore.ensureIncremental]] — appending an hour builds ONLY
  * that hour's part; closed hours are fingerprint cache hits.
  */
trait IndexLifecycle {
  def part(df: DataFrame, idCol: String, vecCol: String, path: String): Unit
  def merge(spark: SparkSession, partPaths: Seq[String], path: String): Unit

  def ensureIncremental(spark: SparkSession, kind: String, sourceDir: String,
      idCol: String, vecCol: String): String =
    IndexStore.ensureIncremental(kind, spark, sourceDir) { (p, tmp) =>
      part(spark.read.parquet(p), idCol, vecCol, tmp)
    } { (parts, tmp) => merge(spark, parts, tmp) }
}

/** One rung of the ANN compression ladder: the per-vector code an index
  * stores instead of the raw vector, and how a query scores against it.
  * A codec is either a GEOMETRY (unlearned: `Pq(dim = 64, m = 4, ksub =
  * 16)`) or a LEARNED codec carrying its frozen params; `learn` turns
  * the first into the second, `read` loads the params an index
  * persisted. Every score keeps the fixed IEEE fold order its oracle
  * twin reproduces, so probes stay hash-exact.
  *
  * A codec alone is a FLAT index (`$path/<params>` + `$path/<table>`,
  * probes scan every code); [[Ivf]] composes a codec with a coarse
  * quantizer so probes read only nprobe cells' codes. Both share the
  * storage and batch machinery in the [[Ivf]] companion.
  */
sealed trait Codec extends IndexLifecycle with Product {
  /** Index sub-table holding the encoded corpus. */
  def table: String
  /** Vector dimension the codec serves (from the geometry or params). */
  def dimension: Int
  def learned: Boolean
  /** First-pass score column name and sort direction. */
  def scoreName: String = "adc_cos"
  def descending: Boolean = true

  /** Learn the params over `vecCol` of `df` (the code-source vectors). */
  def learn(df: DataFrame, idCol: String, vecCol: String): Codec
  /** The encoded columns of one row: codes from `src` (the code-source
    * vector), the stored norm from `norm` (the ORIGINAL vector — the
    * cosine denominator whatever the codes approximate).
    */
  def columns(src: Column, norm: Column): Seq[Column]
  def writeParams(spark: SparkSession, path: String): Unit
  def read(spark: SparkSession, path: String): Codec
  /** First-pass score of one literal query over an encoded row; `base`
    * is an additive per-row term of the approximate dot (the residual
    * form's q·c).
    */
  def score(query: Seq[Double], base: Column): Column
  /** Batch first-pass score over (encoded row, query) pairs. `cols` are
    * the probe-set columns present; returns the score and whether the
    * query frame (__qe, __qn) must be joined into the scored stream.
    */
  def batchScore(cols: Set[String], base: Column): (Column, Boolean)
  /** Per-query probe-set columns folded driver-side from a collected
    * query, given the probe set's row count (for a byte gate).
    */
  def batchLiterals(probeRows: Long): Seq[(StructField, Array[Double] => Any)] = Nil
  /** In-plan twins of [[batchLiterals]] over the query frame's __qe. */
  def batchColumns: Seq[(String, Column)] = Nil
  /** The space codes (and an IVF's cells) live in: OPQ rotates, every
    * other codec is the identity. Returns the frame and the column.
    */
  def spaced(df: DataFrame, vecCol: String): (DataFrame, String) = (df, vecCol)
  def spaceQuery(q: Seq[Double]): Seq[Double] = q

  /** (id, codes…, keep…) — one map-only projection. `src` overrides the
    * code source (the residual form encodes v − c(v)).
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      keep: Seq[String] = Nil, src: Option[Column] = None): DataFrame = {
    val (sdf, s) = src match {
      case Some(c) => (df, c)
      case None => val (d, c) = spaced(df, vecCol); (d, toDoubleArr(col(c)))
    }
    sdf.select((col(idCol) +: columns(s, toDoubleArr(col(vecCol)))) ++ keep.map(col): _*)
  }

  /** Top-`n` (id, score) of a literal query over an encoded table. */
  def candidates(codes: DataFrame, idCol: String, query: Seq[Double], n: Int,
      base: Column = lit(0.0)): DataFrame = {
    require(dimension == query.size, s"dim $dimension != query ${query.size}")
    codes.select(col(idCol), score(query, base).as(scoreName))
      .orderBy(if (descending) col(scoreName).desc else col(scoreName).asc, col(idCol))
      .limit(n)
  }

  /** Flat index build: learn (unless frozen), persist params + codes. */
  def build(df: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    val c = if (learned) this else learn(df, idCol, vecCol)
    c.writeParams(df.sparkSession, path)
    Ivf.write(c.encode(df, idCol, vecCol), s"$path/$table")
  }

  /** Encode one partition against the frozen params. */
  def part(df: DataFrame, idCol: String, vecCol: String, path: String): Unit =
    Ivf.write(encode(df, idCol, vecCol), s"$path/$table")

  /** Codes merge by file copy into `$path/<table>/part=N`; params once. */
  def merge(spark: SparkSession, partPaths: Seq[String], path: String): Unit = {
    Ivf.copyParts(spark, partPaths, table, path)
    writeParams(spark, path)
  }

  /** Flat probe: first pass over every code picks `rerank` candidates,
    * exact cosine over ONLY those ids of `vectors` ranks the final k.
    */
  def probe(spark: SparkSession, path: String, vectors: DataFrame,
      idCol: String, vecCol: String, query: Seq[Double], k: Int = 10,
      rerank: Int = 50): DataFrame = {
    val cand = read(spark, path)
      .candidates(Ivf.readIdx(spark, s"$path/$table"), idCol, query, rerank)
      .select(col(idCol))
    Similarity.cosineTopK(vectors.join(broadcast(cand), idCol), idCol, vecCol, query, k)
  }

  /** BATCH flat probe — N queries score every code in one pass and
    * exact-rerank, bit-identical to a loop of [[probe]]s.
    */
  def probeBatch(spark: SparkSession, path: String, vectors: DataFrame,
      idCol: String, vecCol: String, queries: DataFrame, qidCol: String,
      qVecCol: String, k: Int = 10, rerank: Int = 50,
      broadcastMaxRows: Long = 1000000L): DataFrame =
    Ivf.flatBatch(read(spark, path), spark, path, vectors, idCol, vecCol,
      queries, qidCol, qVecCol, k, rerank, broadcastMaxRows)
}

/** Product quantization (Jégou et al. 2011): D dims split into `m`
  * subspaces, each a quantized-L2 codebook of `ksub` codewords
  * ([[Similarity.pqCodebooks]]). Layout: `codebooks` (s, j, c) and
  * `codes` (id, code_0…code_{m-1}, vnorm). ADC scores a row as m
  * lookups into per-query dot tables + a divide by the stored norm.
  */
final case class Pq(dim: Int = 0, m: Int = 4, ksub: Int = 16, iters: Int = 3,
    cbs: Seq[Seq[Seq[Double]]] = Nil) extends Codec {
  def table: String = "codes"
  def learned: Boolean = cbs.nonEmpty
  private def sub: Int = cbs.head.head.size
  def dimension: Int = if (learned) cbs.size * sub else dim

  def learn(df: DataFrame, idCol: String, vecCol: String): Pq =
    copy(cbs = Similarity.pqCodebooks(df, idCol, vecCol, dim, m, ksub, iters))

  def columns(src: Column, norm: Column): Seq[Column] =
    cbs.zipWithIndex.map { case (cb, s) =>
      Similarity.assignCellL2(slice(src, lit(s * sub + 1), lit(sub)), cb)
        .cast("long").as(s"code_$s")
    } :+ pround(sqrt(dot(norm, norm)), 9).as("vnorm")

  def writeParams(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    Ivf.writeParams(cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, j) => (s, j, c) }
    }.toDF("s", "j", "c"), s"$path/codebooks")
  }

  def read(spark: SparkSession, path: String): Pq =
    copy(cbs = Similarity.readPqCodebooks(spark, path))

  /** Per-(subspace, codeword) dot tables of one query: the sequential
    * fold of the query slice against each codeword.
    */
  private def tables(query: Seq[Double]): Seq[Seq[Double]] =
    cbs.zipWithIndex.map { case (cb, s) =>
      val qSub = query.slice(s * sub, (s + 1) * sub)
      cb.map(cw => cw.zip(qSub).foldLeft(0.0) { case (a, (c, q)) => a + c * q })
    }

  private def code(s: Int): Column = (col(s"code_$s") + 1).cast("int")

  def score(query: Seq[Double], base: Column): Column = {
    val approxDot = tables(query).zipWithIndex.map { case (t, s) =>
      element_at(array(t.map(lit): _*), code(s))
    }.foldLeft(base)(_ + _)
    pround(approxDot / (col("vnorm") * lit(Ivf.safeNorm(query))), 6)
  }

  /** The dot tables ride the probe set only while n_probe_rows × m ×
    * ksub × 8 B fits the query-collect budget — the tables, not the
    * query vectors, are the probe frame's width.
    */
  override def batchLiterals(probeRows: Long): Seq[(StructField, Array[Double] => Any)] =
    if (probeRows * cbs.size * cbs.head.size * 8L > Ivf.queryCollectMaxBytes) Nil
    else Seq(
      StructField("__tab", ArrayType(ArrayType(DoubleType))) ->
        ((qe: Array[Double]) => tables(ArraySeq.unsafeWrapArray(qe))),
      StructField("__qn", DoubleType) -> ((qe: Array[Double]) => Ivf.queryNorm(qe)))

  def batchScore(cols: Set[String], base: Column): (Column, Boolean) = {
    // literal path: m table lookups per row; otherwise the codeword
    // vectors are literal arrays dotted against the query's slice
    val literal = cols("__tab")
    val adcDot = cbs.zipWithIndex.map { case (cb, s) =>
      if (literal) element_at(element_at(col("__tab"), lit(s + 1)), code(s))
      else dot(slice(col("__qe"), lit(s * sub + 1), lit(sub)),
        element_at(array(cb.map(cw => array(cw.map(lit): _*)): _*), code(s)))
    }.foldLeft(base)(_ + _)
    (pround(adcDot / (col("vnorm") * col("__qn")), 6), !literal)
  }
}

/** OPQ (Ge et al. CVPR 2013): PQ behind a learned orthogonal rotation
  * ([[Similarity.learnOpqRotation]]). Codes — and an IVF's cells — live
  * in rotated space; the stored norm and the exact rerank stay in the
  * original space. Layout: PQ's plus `rotation` (i, r).
  */
final case class Opq(pq: Pq = Pq(), opqIters: Int = 2,
    r: Seq[Seq[Double]] = Nil) extends Codec {
  def table: String = pq.table
  def learned: Boolean = r.nonEmpty && pq.learned
  def dimension: Int = if (r.nonEmpty) r.size else pq.dimension

  def learn(df: DataFrame, idCol: String, vecCol: String): Codec = {
    val rot = Opq(pq, opqIters, Similarity.learnOpqRotation(df, idCol, vecCol,
      pq.dim, pq.m, pq.ksub, pq.iters, opqIters))
    val (sdf, sv) = rot.spaced(df, vecCol)
    rot.copy(pq = pq.learn(sdf, idCol, sv))
  }

  override def spaced(df: DataFrame, vecCol: String): (DataFrame, String) =
    (df.withColumn("__rv", Similarity.rotateExpr(col(vecCol), r)), "__rv")
  override def spaceQuery(q: Seq[Double]): Seq[Double] = Similarity.rotateQuery(q, r)

  def columns(src: Column, norm: Column): Seq[Column] = pq.columns(src, norm)

  def writeParams(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    pq.writeParams(spark, path)
    Ivf.writeParams(r.zipWithIndex.map { case (row, i) => (i, row) }.toDF("i", "r"),
      s"$path/rotation")
  }

  def read(spark: SparkSession, path: String): Codec =
    Opq(pq.read(spark, path), opqIters,
      Similarity.readOpqRotation(spark, path))

  def score(query: Seq[Double], base: Column): Column =
    pq.score(spaceQuery(query), base)

  def batchScore(cols: Set[String], base: Column): (Column, Boolean) =
    throw new UnsupportedOperationException("OPQ serves single probes only")
}

/** SQ8 (FAISS QT_8bit): per-dim affine 8-bit codes, code_d = round((v_d
  * − mn_d) / st_d) with st_d = (mx_d − mn_d)/255 from one exact min/max
  * pass ([[Similarity.sq8Params]]). Layout: `params` (i, mn, mx) and
  * `codes` (id, codes BINARY one byte per dim, vnorm).
  */
final case class Sq8(dim: Int = 0, prm: Seq[(Int, Double, Double)] = Nil)
    extends Codec {
  import org.apache.spark.sql.graft.Bridge.{column => ecol, expression => eexpr}
  def table: String = "codes"
  def learned: Boolean = prm.nonEmpty
  def dimension: Int = if (learned) prm.size else dim
  // step derived as (mx − mn)/255.0 — the identical IEEE expression the
  // oracle computes
  private lazy val mns = prm.map(_._2)
  private lazy val sts = prm.map(p => (p._3 - p._2) / 255.0)

  def learn(df: DataFrame, idCol: String, vecCol: String): Codec =
    copy(prm = Similarity.sq8Params(df, idCol, vecCol, dim))

  /** Clamp AFTER the floor, exactly as the oracle's greatest/least;
    * codes persist binary-packed ([[graft.functions.Sq8Pack]]), values
    * unchanged (bytes read back unsigned).
    */
  def columns(src: Column, norm: Column): Seq[Column] = {
    val codes = array(prm.indices.map { d =>
      if (sts(d) == 0.0) lit(0L)
      else greatest(lit(0.0), least(lit(255.0),
        floor((element_at(src, d + 1) - lit(mns(d))) / lit(sts(d)) + lit(0.5))))
        .cast("long")
    }: _*)
    Seq(ecol(graft.functions.Sq8Pack(eexpr(codes))).as("codes"),
      pround(sqrt(dot(norm, norm)), 9).as("vnorm"))
  }

  def writeParams(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    Ivf.writeParams(prm.toDF("i", "mn", "mx"), s"$path/params")
  }

  def read(spark: SparkSession, path: String): Codec = {
    import graft.util.SmallParquet
    copy(prm = SmallParquet.rows(spark, s"$path/params", Seq("i", "mn", "mx"))
      .map(r => (SmallParquet.int(r(0)), SmallParquet.dbl(r(1)), SmallParquet.dbl(r(2))))
      .sortBy(_._1))
  }

  /** Σ_d q_d·(mn_d + code_d·st_d) — the native dim-order loop, IEEE-
    * identical to the oracle's ordered list_reduce.
    */
  def score(query: Seq[Double], base: Column): Column =
    pround(ecol(graft.functions.Sq8AdcBytes(eexpr(col("codes")), query, mns, sts)) /
      (col("vnorm") * lit(Ivf.safeNorm(query))), 6)

  def batchScore(cols: Set[String], base: Column): (Column, Boolean) =
    (pround(ecol(graft.functions.Sq8AdcVec(eexpr(col("codes")), eexpr(col("__qe")),
      mns, sts)) / (col("vnorm") * col("__qn")), 6), true)
}

/** BQ: one bit per dim, bit_d = (v_d > thr_d) with thr_d the decimal-
  * exact per-dim mean ([[Similarity.bqThresholds]]), packed 32 per long.
  * The first pass is integer-only: Σ popcount(word ⊕ qword), ascending.
  * Layout: `params` (i, thr) and `words` (id, words).
  */
final case class Bq(dim: Int = 0, thr: Seq[Double] = Nil) extends Codec {
  def table: String = "words"
  def learned: Boolean = thr.nonEmpty
  def dimension: Int = if (learned) thr.size else dim
  override def scoreName: String = "hamming"
  override def descending: Boolean = false

  def learn(df: DataFrame, idCol: String, vecCol: String): Codec =
    copy(thr = Similarity.bqThresholds(df, idCol, vecCol, dim))

  /** (v_d > thr_d) bits packed 32-per-long — a codegen'd integer fold. */
  private def words(v: Column): Column = {
    val nw = (thr.size + 31) / 32
    array((0 until nw).map { w =>
      (0 until 32).filter(b => w * 32 + b < thr.size).foldLeft(lit(0L)) { (acc, b) =>
        val d = w * 32 + b
        acc + when(element_at(v, d + 1) > lit(thr(d)), lit(1L << b)).otherwise(lit(0L))
      }
    }: _*)
  }

  /** Driver-side twin of [[words]] for a literal query. */
  private def pack(query: Seq[Double]): Seq[Long] =
    (0 until (thr.size + 31) / 32).map { w =>
      (0 until 32).filter(b => w * 32 + b < thr.size).foldLeft(0L) { (acc, b) =>
        val d = w * 32 + b
        if (query(d) > thr(d)) acc | (1L << b) else acc
      }
    }

  def columns(src: Column, norm: Column): Seq[Column] = Seq(words(src).as("words"))

  def writeParams(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    Ivf.writeParams(thr.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "thr"),
      s"$path/params")
  }

  def read(spark: SparkSession, path: String): Codec = {
    import graft.util.SmallParquet
    copy(thr = SmallParquet.rows(spark, s"$path/params", Seq("i", "thr"))
      .map(r => (SmallParquet.int(r(0)), SmallParquet.dbl(r(1))))
      .sortBy(_._1).map(_._2))
  }

  def score(query: Seq[Double], base: Column): Column = {
    val qw = pack(query)
    qw.indices.foldLeft(lit(0L)) { (acc, w) =>
      acc + bit_count(element_at(col("words"), w + 1).bitwiseXOR(lit(qw(w))))
    }
  }

  override def batchLiterals(probeRows: Long): Seq[(StructField, Array[Double] => Any)] =
    Seq(StructField("__qw", ArrayType(LongType)) ->
      ((qe: Array[Double]) => pack(ArraySeq.unsafeWrapArray(qe))))
  override def batchColumns: Seq[(String, Column)] = Seq("__qw" -> words(col("__qe")))

  def batchScore(cols: Set[String], base: Column): (Column, Boolean) =
    (aggregate(zip_with(col("words"), col("__qw"), (a, b) => bit_count(a.bitwiseXOR(b))),
      lit(0L), (acc, x) => acc + x), false)
}

/** The identity codec: no code table — an [[Ivf]] over it probes the
  * cell-pruned raw vectors with exact cosine (raw IVF / k-means IVF).
  */
case object Identity extends Codec {
  def table: String = "vectors"
  def dimension: Int = -1
  def learned: Boolean = true
  def learn(df: DataFrame, idCol: String, vecCol: String): Codec = this
  private def unsupported = throw new UnsupportedOperationException(
    "Identity keeps the raw vectors: serve it through Ivf's single probe")
  def columns(src: Column, norm: Column): Seq[Column] = unsupported
  def writeParams(spark: SparkSession, path: String): Unit = ()
  def read(spark: SparkSession, path: String): Codec = this
  def score(query: Seq[Double], base: Column): Column = unsupported
  def batchScore(cols: Set[String], base: Column): (Column, Boolean) = unsupported
}
