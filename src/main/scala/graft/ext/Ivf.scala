package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.Portable.pround
import Similarity.{dot, l2Norm, toDoubleArr}

/** An inverted-file index over any [[Codec]]: a coarse quantizer splits
  * the corpus into cells, and every table the index stores is
  * PARTITIONED BY the cell label — so a probe ranks the K-row centroids
  * driver-side and reads only nprobe cells' codes and vectors, never
  * the corpus (the IVFADC serving shape, Jégou et al. 2011 §V).
  *
  * Layout under `path`:
  *   - `centroids` (label, centroid) — per-cell means in the codec's
  *     space, K rows, the probe's cell ranking;
  *   - `vectors` (id, vec, label) — the ORIGINAL vectors, the exact
  *     rerank's read;
  *   - the codec's params and cell-partitioned code table;
  *   - `quantizer` (j, c) when `residual`: the codes then quantize
  *     v − c(v) and every score adds the probed cell's q·c back.
  *
  * The quantizer is learned with `k` cells ([[Similarity.kmeansCentroids]],
  * `iters` iterations), frozen via `centroids`, or — with neither — the
  * corpus' own `label` column is the cell assignment. [[Identity]] is
  * raw IVF: probes rank the pruned vectors by exact cosine directly.
  */
final case class Ivf(codec: Codec = Identity, k: Int = 0, iters: Int = 3,
    residual: Boolean = false, centroids: Seq[Seq[Double]] = Nil)
    extends IndexLifecycle {
  import Ivf._
  require(!residual || codec.isInstanceOf[Pq], "the residual variant encodes PQ codes")

  /** Build the full index. `chunks` > 1 writes the corpus-heavy vectors
    * over that many cell ranges (one narrow assignment pass, then a
    * partition sort of one range at a time — peak local disk is one
    * range's spill, not the corpus'); every learner is
    * order-independent, so the index is probe-identical either way.
    * `also` serves more codecs off the SAME base: each gets its params
    * + codes in its own dir plus a copy of the centroids; probe them
    * with `vectorsDir = Some(path)`.
    */
  def build(df: DataFrame, idCol: String, vecCol: String, path: String,
      chunks: Int = 1, also: Seq[(Codec, String)] = Nil): Unit = {
    require(chunks >= 1)
    val spark = df.sparkSession
    // the residual codebooks need the cells first; every other codec
    // learns up front (OPQ's rotation defines the space cells live in)
    val c0 = if (codec.learned || residual) codec else codec.learn(df, idCol, vecCol)
    val (sdf, sv) = c0.spaced(df, vecCol)
    val cents =
      if (centroids.nonEmpty || k == 0) centroids
      else Similarity.kmeansCentroids(sdf, idCol, sv, k, iters)
    val labeled =
      if (cents.isEmpty) sdf else Similarity.withCellLabels(sdf, idCol, sv, cents)
    val src =
      if (chunks == 1) {
        write(labeled.select(col(idCol), col(vecCol), col("label")), s"$path/vectors",
          Seq("label"))
        labeled
      } else {
        write(labeled.select(col(idCol), col("label")), s"$path/assign")
        (0 until chunks).foreach { ri =>
          val (lo, hi) = (ri * cents.size / chunks, (ri + 1) * cents.size / chunks)
          if (lo < hi) {
            val chunk = spark.read.parquet(s"$path/assign")
              .filter(col("label") >= lo && col("label") < hi)
            // narrow the corpus FIRST: a source carrying its own
            // `label` must not collide with the assignment's
            write(df.select(col(idCol), col(vecCol)).join(broadcast(chunk), idCol)
              .select(col(idCol), col(vecCol), col("label")),
              s"$path/vectors", Seq("label"), append = true)
          }
        }
        c0.spaced(spark.read.parquet(s"$path/vectors"), vecCol)._1
      }
    writeParams(Similarity.centroidComponents(src, "label", sv)
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("centroid")), s"$path/centroids")
    if (residual) writeQuantizer(spark, cents, path)
    // the code source: the spaced vector, or its residual v − c(v)
    val plain = toDoubleArr(col(sv))
    val codeSrc = if (residual) Similarity.residualOf(col(vecCol), col("label"), cents) else plain
    val c = if (c0.learned) c0 else c0.learn(src.withColumn("__res", codeSrc), idCol, "__res")
    ((c, path, codeSrc) +: also.map { case (x, dir) => (x, dir, plain) }).foreach {
      case (x, dir, xSrc) =>
        if (x != Identity) {
          val xl = if (x.learned) x else x.learn(src, idCol, vecCol)
          xl.writeParams(spark, dir)
          write(xl.encode(src, idCol, vecCol, Seq("label"), Some(xSrc)), s"$dir/${x.table}",
            Seq("label"))
        }
        if (dir != path) copyParts(spark, Seq(path), "centroids", dir, flat = true)
    }
  }

  /** One partition against the FROZEN quantizer and codec: one
    * assignment pass feeding the cell-partitioned vectors, the exactly
    * mergeable centroid partials (per-cell count + decimal dim-sums),
    * and the cell-partitioned codes.
    */
  def part(df: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    require(centroids.nonEmpty && codec.learned, "a part needs frozen learners")
    val (sdf, sv) = codec.spaced(df, vecCol)
    val labeled = Similarity.withCellLabels(sdf, idCol, sv, centroids)
    write(labeled.select(col(idCol), col(vecCol), col("label")), s"$path/vectors", Seq("label"))
    writeParams(labeled
      .select(col("label"), posexplode(toDoubleArr(col(sv))).as(Seq("i", "v")))
      .groupBy(col("label"), col("i"))
      // order-deterministic partials: the merged centroids are
      // bit-identical however the corpus was split into parts
      .agg(graft.util.Portable.dsum(col("v")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n"), // rows per (cell, dim) are the cell size
        transform(array_sort(collect_list(struct(col("i"), col("s")))),
          x => x.getField("s")).as("sums")), s"$path/centroid_partial")
    if (codec != Identity)
      write(codec.encode(labeled, idCol, vecCol, Seq("label"), Some(
        if (residual) Similarity.residualOf(col(vecCol), col("label"), centroids)
        else toDoubleArr(col(sv)))), s"$path/${codec.table}", Seq("label"))
  }

  /** Vectors and codes merge by FILE COPY into `<table>/part=N/label=…`
    * (the probe's cell filter prunes across every part); centroids
    * re-derive from the K-row partials as Σsums/Σcount — the true
    * combined-corpus means, so ranking matches a monolithic rebuild.
    */
  def merge(spark: SparkSession, partPaths: Seq[String], path: String): Unit = {
    copyParts(spark, partPaths, "vectors", path)
    writeParams(spark.read.parquet(partPaths.map(_ + "/centroid_partial"): _*)
      .select(col("label"), col("n"), posexplode(col("sums")).as(Seq("i", "s")))
      .groupBy(col("label"), col("i"))
      .agg(graft.util.Portable.dsum(col("s")).as("s"), sum(col("n")).as("n"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("s"), col("n")))),
        x => x.getField("s") / x.getField("n")).as("centroid")), s"$path/centroids")
    if (codec != Identity) codec.merge(spark, partPaths, path)
    if (residual) writeQuantizer(spark, centroids, path)
  }

  /** Single-query probe: rank cells against the K-row centroids (in the
    * codec's space), first pass over ONLY the nprobe best cells' codes
    * for `rerank` candidates, exact cosine over the cell-pruned vectors
    * for the final k. Both data reads are partition-pruned.
    */
  def probe(spark: SparkSession, path: String, idCol: String, vecCol: String,
      query: Seq[Double], k: Int = 10, nprobe: Int = 2, rerank: Int = 50,
      vectorsDir: Option[String] = None): DataFrame = {
    require(nprobe >= 1 && (codec == Identity || rerank >= k))
    val c = codec.read(spark, path)
    val cells = rankIndexCells(spark, path, c.spaceQuery(query)).take(nprobe)
    def pruned(root: String, table: String): DataFrame =
      cellUnionPruned(readIdx(spark, s"$root/$table"), cells)
    val vectors = pruned(vectorsDir.getOrElse(path), "vectors")
    if (c == Identity) Similarity.cosineTopK(vectors, idCol, vecCol, query, k)
    else {
      val codes = pruned(path, c.table)
      // residual: the probed cell's q·c as a literal CASE over ≤ nprobe labels
      val base = if (!residual) lit(0.0) else {
        val quant = Similarity.readQuantizer(spark, path)
        val lt = codes.schema("label").dataType
        coalesce((cells.map(cell => when(col("label") === lit(cell).cast(lt),
          lit(qDot(quant, cell, query)))) :+ lit(0.0)): _*)
      }
      val cand = c.candidates(codes, idCol, query, rerank, base).select(col(idCol))
      Similarity.cosineTopK(vectors.join(broadcast(cand), idCol), idCol, vecCol, query, k)
    }
  }

  /** BATCH probe — N queries rank cells, first-pass, and rerank in ONE
    * set of distributed joins, bit-identical to a loop of [[probe]]s.
    * Below the literal-query gate the probe set (query × cell, plus the
    * codec's per-query literals) is driver arithmetic; above it, a
    * qid-windowed plan. Every code/vector read is statically pruned to
    * the batch's probed-cell union; every join is size-gated at
    * `broadcastMaxRows`; every window partitions by qid.
    */
  def probeBatch(spark: SparkSession, path: String, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qVecCol: String, k: Int = 10,
      nprobe: Int = 2, rerank: Int = 50, broadcastMaxRows: Long = 1000000L,
      vectorsDir: Option[String] = None): DataFrame = {
    require(nprobe >= 1 && rerank >= k)
    val c = codec.read(spark, path)
    val (qn0, nq, qrows) = literalQueryFrame(queries, qidCol, qVecCol, c.dimension,
      broadcastMaxRows)
    val qn = c.batchColumns.foldLeft(qn0) { case (d, (n, e)) => d.withColumn(n, e) }
    val quant = if (residual) Some(Similarity.readQuantizer(spark, path)) else None
    val (probeSet, cells) = qrows.flatMap { rows =>
      driverCellProbeSet(spark, path, rows, nprobe, qn.schema("__qid").dataType,
        quant, c.batchLiterals(nq * nprobe))
    }.getOrElse {
      val raw = batchCellProbeSet(spark, path, qn, nprobe)
      // residual: q·c per probed (query, cell) via the K-row quantizer
      val set = if (!residual) raw else raw
        .join(broadcast(readIdx(spark, s"$path/quantizer")
          .select(col("j").cast("long").as("__qj"), toDoubleArr(col("c")).as("__qcv"))),
          col("__cell").cast("long") === col("__qj"))
        .withColumn("__qc", dot(col("__qcv"), col("__qe")))
      literalProbeSet(set.select((Seq("__qid", "__cell") ++ quant.map(_ => "__qc") ++
        c.batchColumns.map(_._1)).map(col): _*), nq * nprobe, broadcastMaxRows)
    }
    // static cell pruning BEFORE the spread: the repartition between the
    // scan and the probe join would block dynamic partition pruning
    val (prunedRows, prunedSizes) = parquetCensus(spark, s"$path/${c.table}", cells)
    val codes = spreadForScore(cellUnionPruned(readIdx(spark, s"$path/${c.table}"), cells),
      if (cells.isEmpty) 0L else prunedRows * nq * nprobe / cells.size, prunedSizes)
    // the residual q·c base comes FIRST in the fold, as in the single probe
    val (score, needsQuery) = c.batchScore(probeSet.columns.toSet,
      if (residual) col("__qc") else lit(0.0))
    val paired = codes.join(sizeGated(probeSet, nq * nprobe, broadcastMaxRows),
      codes("label") === probeSet("__cell"))
    val scored = if (needsQuery) paired.join(sizeGated(qn, nq, broadcastMaxRows), "__qid")
      else paired
    // the top-k cut carries only (qid, score, cell, id) — never the
    // dim-wide query vector, which re-attaches after the cut
    val cand = topKPerQid(
      scored.withColumn("__score", score)
        .select(col("__qid"), col("__score"), col("__cell"), col(idCol)),
      col("__score"), c.descending, rerank, idCol, Seq("__cell"))
      .select(col("__qid"), col("__cell"), col(idCol))
    heapScoped(rerankBatch(
      cellUnionPruned(readIdx(spark, s"${vectorsDir.getOrElse(path)}/vectors"), cells),
      cand, qn, idCol, vecCol, k, nq, rerank, broadcastMaxRows))
  }
}

/** Storage, cell-ranking and batch machinery shared by [[Ivf]] and the
  * flat [[Codec]] lifecycle.
  */
object Ivf {

  /** Default `nprobe` for a persisted index at a target recall:
    * [[Similarity.nprobeFor]] of its cell count, read off the K-row
    * centroids' footers (zero Spark jobs).
    */
  def autoNprobe(spark: SparkSession, path: String, targetRecall: Double = 0.9): Int =
    Similarity.nprobeFor(parquetCensus(spark, s"$path/centroids")._1.toInt, targetRecall)

  // ------------------------------------------------------------ storage

  /** Memoized-schema index reads: a schemaless `spark.read.parquet`
    * runs a footer-inference job per call, so probe construction paid
    * 1-3 ~50 ms jobs re-learning an index table's schema. Keys are
    * qualified paths; [[write]] and [[copyParts]] — every index write —
    * evict the overwritten dir and everything under it, so a rebuild
    * at a caller-chosen path (a new geometry, a new code width) is
    * never read with the old schema.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def qualified(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  private def evict(spark: SparkSession, path: String): Unit = {
    val q = qualified(spark, path)
    schemaCache.keySet.removeIf(key => key == q || key.startsWith(q + "/"))
  }

  private[ext] def readIdx(spark: SparkSession, path: String): DataFrame = {
    val key = qualified(spark, path)
    val cached = schemaCache.get(key)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.putIfAbsent(key, df.schema)
      df
    }
  }

  /** The one write path of every index table. */
  private[ext] def write(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      append: Boolean = false): Unit = {
    evict(df.sparkSession, path)
    df.write.mode(if (append) "append" else "overwrite").partitionBy(partitionBy: _*)
      .parquet(path)
  }

  /** A small param table — one file, one footer per probe. */
  private[ext] def writeParams(df: DataFrame, path: String): Unit =
    write(df.coalesce(1), path)

  /** File-copy merge of subtable `sub` of each part into
    * `$path/$sub/part=N` (zero reads, zero shuffles); `flat` copies a
    * single part's table to `$path/$sub` itself.
    */
  private[ext] def copyParts(spark: SparkSession, partPaths: Seq[String], sub: String,
      path: String, flat: Boolean = false): Unit = {
    evict(spark, s"$path/$sub")
    val conf = spark.sparkContext.hadoopConfiguration
    partPaths.zipWithIndex.foreach { case (pp, i) =>
      val src = new org.apache.hadoop.fs.Path(s"$pp/$sub")
      val dst = new org.apache.hadoop.fs.Path(if (flat) s"$path/$sub" else s"$path/$sub/part=$i")
      val fs = src.getFileSystem(conf)
      if (flat) fs.delete(dst, true) else fs.mkdirs(dst.getParent)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    }
  }

  private def writeQuantizer(spark: SparkSession, cents: Seq[Seq[Double]],
      path: String): Unit = {
    import spark.implicits._
    writeParams(cents.zipWithIndex.map { case (c, j) => (j, c) }.toDF("j", "c"),
      s"$path/quantizer")
  }

  /** Row count and matching file sizes of a parquet table from its
    * FILE FOOTERS — a driver-side metadata read, never a Spark job.
    * With `cells`, only files under those `label=<cell>` dirs count
    * (monolithic `codes/label=N/` and merged `codes/part=N/label=N/`).
    */
  private[ext] def parquetCensus(spark: SparkSession, path: String,
      cells: Seq[Any] = Nil): (Long, Seq[Long]) = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val wanted = cells.map(c => s"/label=$c/").toArray
    var total = 0L
    val sizes = Seq.newBuilder[Long]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      if (!p.getName.startsWith("_") && !p.getName.startsWith(".") &&
          (wanted.isEmpty || wanted.exists(p.toString.contains))) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try total += r.getRecordCount finally r.close()
        sizes += st.getLen
      }
    }
    (total, sizes.result())
  }

  // ------------------------------------------------------- cell ranking

  /** Every cell of a persisted index ranked best-first against the
    * query — an index lookup of the K-row centroids, never a data
    * collect.
    */
  private[ext] def rankIndexCells(spark: SparkSession, path: String,
      query: Seq[Double]): Seq[Any] =
    rankCellsOf(graft.util.SmallParquet.rows(spark, s"$path/centroids", Nil), query)

  /** Score = 1e-6-rounded dot/|c| (the query norm cancels); score desc
    * with NaN (zero-norm centroid) greatest — Spark's sort semantics —
    * then label asc. Rows are positional (label, centroid).
    */
  private def rankCellsOf(centRows: Seq[IndexedSeq[Any]], query: Seq[Double]): Seq[Any] =
    centRows.map { r =>
      val c = graft.util.SmallParquet.darr(r(1))
      var dot = 0.0; var nn = 0.0; var i = 0
      while (i < c.length) { dot += c(i) * query(i); nn += c(i) * c(i); i += 1 }
      (r(0), graft.util.Portable.proundD(dot / math.sqrt(nn), 6))
    }.sortWith { case ((la, sa), (lb, sb)) =>
      val c = java.lang.Double.compare(sb, sa)
      if (c != 0) c < 0
      else (la, lb) match {
        case (x: Number, y: Number) => x.doubleValue < y.doubleValue
        case (x, y) => String.valueOf(x) < String.valueOf(y)
      }
    }.map(_._1)

  /** Literal `isin` filter on the label partition column, the literals
    * cast to its inferred type so pruning applies; an empty cell set is
    * a false predicate.
    */
  private def cellUnionPruned(df: DataFrame, cells: Seq[Any]): DataFrame =
    if (cells.isEmpty) df.filter(lit(false))
    else {
      val t = df.schema("label").dataType
      df.filter(col("label").isin(cells.map(c => lit(c).cast(t)): _*))
    }

  /** Residual q·c: sequential dim-order dot of the cell's quantizer row
    * against the query — VecDot's fold order.
    */
  private def qDot(quant: Seq[Seq[Double]], cell: Any, q: Seq[Double]): Double = {
    val cv = quant(cell.toString.toInt)
    var s = 0.0; var i = 0
    while (i < q.length) { s += cv(i) * q(i); i += 1 }
    s
  }

  // ------------------------------------------------------ query frames

  /** The single probes' zero-guarded query norm. */
  private[ext] def safeNorm(q: Seq[Double]): Double = {
    val n = math.sqrt(q.map(x => x * x).sum)
    if (n > 0) n else 1.0
  }

  /** The batch frames' zero-guarded norm: sqrt of VecDot's sequential
    * self-dot, the driver twin of [[batchQueryFrame]]'s.
    */
  private[ext] def queryNorm(qe: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < qe.length) { d += qe(i) * qe(i); i += 1 }
    val n = math.sqrt(d)
    if (n == 0.0) 1.0 else n
  }

  /** Byte budget for collecting a query batch (and its per-query probe
    * literals) driver-side; `graft.batchquery.collect.maxbytes`
    * overrides it for specs.
    */
  private[ext] def queryCollectMaxBytes: Long =
    sys.props.get("graft.batchquery.collect.maxbytes").map(_.toLong)
      .getOrElse(64L << 20)

  /** The distributed query frame: (qid, double-widened vector,
    * zero-guarded norm).
    */
  private def batchQueryFrame(queries: DataFrame, qidCol: String,
      qVecCol: String): DataFrame =
    queries.select(col(qidCol).as("__qid"), toDoubleArr(col(qVecCol)).as("__qe"))
      .withColumn("__qn", {
        val n = sqrt(dot(col("__qe"), col("__qe")))
        when(n === 0.0, lit(1.0)).otherwise(n)
      })

  /** One narrow aggregate over the query frame: every row must carry
    * exactly the index's dimension and no null vector (a mismatched
    * vector would score null — plausible-looking garbage ranks). Returns
    * the batch row count from the same pass.
    */
  private def requireQueryDim(queries: DataFrame, qVecCol: String, dim: Int): Long = {
    val row = queries
      .agg(min(size(col(qVecCol))), max(size(col(qVecCol))),
        count(when(col(qVecCol).isNull, lit(1))), count(lit(1))).head()
    require(row.getLong(2) == 0L,
      s"query batch contains ${row.getLong(2)} null vectors in $qVecCol")
    require(row.isNullAt(0) || (row.getInt(0) == dim && row.getInt(1) == dim),
      s"query vectors must all be dim $dim, got [${row.get(0)}, ${row.get(1)}]")
    row.getLong(3)
  }

  /** Collect the query batch ONCE under a byte gate (dim × 8 B per row,
    * also capped by the caller's broadcast gate) and re-enter it as a
    * LITERAL frame: downstream broadcasts of it launch no jobs and the
    * dim guard runs on the collected rows. Above the gate, or with null
    * elements, the distributed [[batchQueryFrame]] runs instead —
    * result-identical (the collected doubles ARE the plan's cast).
    */
  private def literalQueryFrame(queries: DataFrame, qidCol: String,
      qVecCol: String, dim: Int, broadcastMaxRows: Long):
      (DataFrame, Long, Option[IndexedSeq[(Any, Array[Double])]]) = {
    val maxRows = math.min(math.min(Int.MaxValue - 8L, broadcastMaxRows),
      math.max(0L, queryCollectMaxBytes / (dim.toLong * 8L))).toInt
    val narrow = queries.select(col(qidCol).as("__qid"),
      toDoubleArr(col(qVecCol)).as("__qe"))
    val head = narrow.limit(maxRows + 1).collect()
    if (head.length > maxRows || head.exists(r =>
        !r.isNullAt(1) && r.getSeq[Any](1).contains(null))) {
      val nq = requireQueryDim(queries, qVecCol, dim)
      (batchQueryFrame(queries, qidCol, qVecCol), nq, None)
    } else {
      val nNull = head.count(_.isNullAt(1))
      require(nNull == 0, s"query batch contains $nNull null vectors in $qVecCol")
      val rows = head.iterator.map(r => (r.get(0), r.getSeq[Double](1).toArray)).toIndexedSeq
      if (rows.nonEmpty) {
        val (lo, hi) = (rows.map(_._2.length).min, rows.map(_._2.length).max)
        require(lo == dim && hi == dim, s"query vectors must all be dim $dim, got [$lo, $hi]")
      }
      val schema = StructType(Seq(
        StructField("__qid", narrow.schema("__qid").dataType),
        StructField("__qe", ArrayType(DoubleType)),
        StructField("__qn", DoubleType)))
      val litRows = rows.map { case (qid, qe) => Row(qid, qe.toSeq, queryNorm(qe)) }
      (queries.sparkSession.createDataFrame(java.util.Arrays.asList(litRows: _*), schema),
        rows.size.toLong, Some(rows))
    }
  }

  // ---------------------------------------------------------- probe sets

  /** Spark literal type of a collected label; an exotic label class
    * returns None and the caller keeps the distributed probe set.
    */
  private def litDataType(v: Any): Option[DataType] = v match {
    case _: java.lang.Integer => Some(IntegerType)
    case _: java.lang.Long => Some(LongType)
    case _: java.lang.Short => Some(ShortType)
    case _: java.lang.Byte => Some(ByteType)
    case _: String => Some(StringType)
    case _ => None
  }

  /** The probe set over a COLLECTED query batch, as driver arithmetic:
    * one read of the K-row centroids ranks every query's cells with
    * [[rankCellsOf]]; columns (__qid, __cell, [__qc], codec literals…),
    * each per-query literal folded once per query row. Returns the
    * literal frame and the probed-cell union.
    */
  private def driverCellProbeSet(spark: SparkSession, path: String,
      rows: Seq[(Any, Array[Double])], nprobe: Int, qidType: DataType,
      quant: Option[Seq[Seq[Double]]],
      literals: Seq[(StructField, Array[Double] => Any)]): Option[(DataFrame, Seq[Any])] = {
    val centRows = graft.util.SmallParquet.rows(spark, s"$path/centroids", Nil)
    val probe = rows.flatMap { case (qid, qe) =>
      val q = scala.collection.immutable.ArraySeq.unsafeWrapArray(qe)
      val vals = literals.map(_._2(qe))
      rankCellsOf(centRows, q).take(nprobe).map(c => (qid, q, c, vals))
    }
    val cells = probe.map(_._3).distinct
    val cellType = cells.headOption.map(litDataType).getOrElse(Some(LongType))
    cellType.map { ct =>
      val fields = Seq(StructField("__qid", qidType), StructField("__cell", ct)) ++
        quant.map(_ => StructField("__qc", DoubleType)) ++ literals.map(_._1)
      val litRows = probe.map { case (qid, q, c, vals) =>
        Row((Seq[Any](qid, c) ++ quant.map(qDot(_, c, q)) ++ vals): _*)
      }
      (spark.createDataFrame(java.util.Arrays.asList(litRows: _*), StructType(fields)), cells)
    }
  }

  /** The distributed probe set: per-query cell ranking against the
    * broadcast centroids (NaN greatest, ties to the lower label — the
    * [[rankCellsOf]] order), ≤ nprobe cells per query.
    */
  private def batchCellProbeSet(spark: SparkSession, path: String, qn: DataFrame,
      nprobe: Int): DataFrame = {
    val cents = readIdx(spark, s"$path/centroids")
      .select(col("label").as("__cell"), toDoubleArr(col("centroid")).as("__c"))
    val wCell = Window.partitionBy(col("__qid"))
      .orderBy(col("__s").desc, col("__cell").asc)
    qn.join(broadcast(cents))
      .withColumn("__s", pround(dot(col("__c"), col("__qe")) / l2Norm(col("__c")), 6))
      .withColumn("__rn", row_number().over(wCell))
      .filter(col("__rn") <= nprobe)
      .select(qn.columns.map(col).toSeq :+ col("__cell"): _*)
  }

  /** Below the broadcast gate, collect the narrow probe set ONCE and
    * re-enter it as a literal frame, taking the cell union from the
    * same rows; above it, keep the lazy frame and collect the union.
    */
  private def literalProbeSet(probe: DataFrame, rows: Long,
      maxRows: Long): (DataFrame, Seq[Any]) =
    if (rows <= maxRows) {
      val collected = probe.collect()
      val ci = probe.schema.fieldIndex("__cell")
      (probe.sparkSession.createDataFrame(java.util.Arrays.asList(collected: _*),
        probe.schema), collected.map(_.get(ci)).distinct.toIndexedSeq)
    } else (probe, probe.select(col("__cell")).distinct()
      .collect().map(_.get(0)).toIndexedSeq)

  // ------------------------------------------------------ batch scoring

  /** Broadcast at ≤ `maxRows` rows (exact at plan time), shuffle join on
    * the same keys above — result-identical.
    */
  private def sizeGated(df: DataFrame, rows: Long, maxRows: Long): DataFrame =
    if (rows <= maxRows) broadcast(df) else df

  /** ~0.2-2 s of first-pass work per scoring task. */
  private val SpreadRowsPerTask = 2000000L

  /** Spread a compressed table across the cores before the batch
    * scoring stage — a broadcast probe join keeps the (tiny-on-disk)
    * code read's partitioning — sized to the work: one task per
    * [[SpreadRowsPerTask]] scored rows, skipped whenever the scan is
    * already that wide (width estimated from the census' file sizes).
    */
  private def spreadForScore(df: DataFrame, scoredRows: Long,
      fileSizes: Seq[Long]): DataFrame = {
    val target = math.min(df.sparkSession.sparkContext.defaultParallelism.toLong,
      scoredRows / SpreadRowsPerTask + 1).toInt
    if (target <= graft.util.Scans.estimateScanPartitions(df.sparkSession, fileSizes)) df
    else df.repartition(target)
  }

  /** Sort-free per-query top-`k` — a bounded per-(partition, qid) heap
    * ([[graft.functions.TopKScoreAgg]]) combined map-side, shuffling
    * only n_q × k survivors. (key, id) is a strict total order, so the
    * kept set equals a window rank cut. Ids and payload must be
    * integral (the heap holds primitive longs).
    */
  private def topKPerQid(scored: DataFrame, key: Column, keyDesc: Boolean,
      k: Int, idCol: String, payload: Seq[String]): DataFrame = {
    (idCol +: payload).foreach { c =>
      val t = scored.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"topKPerQid needs an integral $c column (the heap carries " +
          s"primitive longs); got $t — map non-numeric ids to a surrogate long first")
    }
    val topk = udaf(new graft.functions.TopKScoreAgg(k, keyDesc))
    scored
      .groupBy(col("__qid"))
      .agg(topk(key.cast("double"), col(idCol).cast("long"),
        payload.headOption.map(col).getOrElse(lit(-1L)).cast("long")).as("__topk"))
      .select(col("__qid"), explode(col("__topk")).as("__e"))
      .select(col("__qid") +: col("__e._1").as(idCol) +:
        payload.headOption.map(n => col("__e._2").as(n)).toSeq: _*)
  }

  /** The heap aggregate stays hash-based only under a raised
    * sort-fallback threshold; the finished probe plan rebinds to a
    * cloned session carrying it, so the caller's session is untouched.
    */
  private def heapScoped(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Bridge.withConfOverride(df,
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 20).toString)

  /** The exact-rerank tail of every batch probe: candidates (__qid,
    * [__cell], id) join the vectors (on cell too when present), the
    * query vector re-attaches via its own per-qid join, exact cosine,
    * top-`k` per qid. The candidate broadcast stays narrow: a fat one
    * weighs n_q × rerank × dim × 8 B.
    */
  private def rerankBatch(vectors: DataFrame, cand: DataFrame, qn: DataFrame,
      idCol: String, vecCol: String, k: Int, nq: Long, rerank: Int,
      maxRows: Long): DataFrame = {
    val onId = vectors(idCol) === cand(idCol)
    val wTop = Window.partitionBy(col("__qid"))
      .orderBy(col("cos").desc, vectors(idCol).asc)
    val v = toDoubleArr(vectors(vecCol))
    vectors.join(sizeGated(cand, nq * rerank, maxRows),
        if (cand.columns.contains("__cell")) vectors("label") === cand("__cell") && onId
        else onId)
      .join(sizeGated(qn.select(col("__qid"), col("__qe")), nq, maxRows), "__qid")
      .withColumn("cos", pround(dot(col("__qe"), v) / (l2Norm(v) * l2Norm(col("__qe"))), 6))
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") <= k)
      .select(col("__qid").as("qid"), vectors(idCol).as(idCol), col("cos"))
  }

  /** The flat batch probe: every (code row, query) pair scores — the
    * flat rung's contract — then per-qid top-`rerank` and exact rerank.
    */
  private[ext] def flatBatch(c: Codec, spark: SparkSession, path: String,
      vectors: DataFrame, idCol: String, vecCol: String, queries: DataFrame,
      qidCol: String, qVecCol: String, k: Int, rerank: Int,
      maxRows: Long): DataFrame = {
    require(rerank >= k)
    val (qn0, nq, _) = literalQueryFrame(queries, qidCol, qVecCol, c.dimension, maxRows)
    val qn = c.batchColumns.foldLeft(qn0) { case (d, (n, e)) => d.withColumn(n, e) }
    // footer census, not a count() job
    val (corpusRows, corpusSizes) = parquetCensus(spark, s"$path/${c.table}")
    val codes = spreadForScore(readIdx(spark, s"$path/${c.table}"), corpusRows * nq,
      corpusSizes)
    Similarity.FlatBatchGuard.check(s"flat ${c.productPrefix} batch", s"Ivf(${c.productPrefix})",
      corpusRows, nq)
    val (score, needsQuery) = c.batchScore(Set.empty, lit(0.0))
    val q = if (needsQuery) qn else qn.select((col("__qid") +: c.batchColumns.map(b => col(b._1))): _*)
    val cand = topKPerQid(
      codes.crossJoin(sizeGated(q, nq, maxRows))
        .withColumn("__score", score)
        .select(col("__qid"), col("__score"), col(idCol)),
      col("__score"), c.descending, rerank, idCol, Nil)
    heapScoped(rerankBatch(vectors, cand, qn, idCol, vecCol, k, nq, rerank, maxRows))
  }
}
