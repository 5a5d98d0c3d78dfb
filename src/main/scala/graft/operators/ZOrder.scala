package graft.operators

import graft.expressions.InterleaveBits
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for multidimensional data layout — the
  * write-side organization that makes 2-D range predicates prunable
  * from parquet min/max statistics alone.
  *
  * A single-column sort gives perfect pruning on that column and none
  * on any other; interleaving the bits of two columns
  * ([[graft.expressions.InterleaveBits]], a codegen'd five-round
  * magic-number spread) gives a 1-D key whose contiguous ranges are
  * bounded rectangles in (x, y) space. Sorting files/row-groups by it
  * bounds BOTH columns' min/max extent per file, so a predicate on
  * either dimension (or both) skips most files. This is the layout
  * trick behind z-ordered table formats, re-expressed as plain Spark:
  * `repartitionByRange` on the z-value (range exchange — at cluster
  * scale, one task per output file) + `sortWithinPartitions`, nothing
  * engine-specific.
  *
  * At 100 TB: the z-value is a narrow codegen'd projection (no
  * shuffle of its own); the single range exchange it feeds is the
  * same exchange any clustered write pays, and AQE balances the range
  * bounds from sampled statistics. Locality quality is exact, not
  * heuristic: a z-range of width 4^b covers an axis-aligned square of
  * side 2^b, so per-file column extents shrink geometrically with
  * file count.
  */
object ZOrder {

  /** The Morton key of two int columns (unsigned 32-bit interleave).
    * NOTE: a negative input sets high z bits (y's sign bit lands on z
    * bit 63), so SIGNED ordering of z-values from negative
    * coordinates does not follow the Morton curve — [[layout]] guards
    * against this; raw `zvalue` callers on possibly-negative domains
    * must shift/mask their inputs first.
    */
  def zvalue(x: Column, y: Column): Column = InterleaveBits(x, y)

  /** Cluster `df` for writing: range-partition by the z-value of
    * (x, y) into `numFiles` partitions, sort within each, drop the
    * key. Each output partition then holds a contiguous z-range —
    * parquet files written from it carry tight min/max bounds on both
    * x and y.
    *
    * Coordinates must be non-negative: y's sign bit would land on z
    * bit 63, and the signed range exchange would then split the
    * Morton curve at the wrap, giving the straddling file a full-
    * extent min/max (silent loss of the pruning contract). Enforced
    * per row by a codegen'd assert woven into the z-value's data flow
    * (column pruning cannot drop it).
    */
  def layout(df: DataFrame, x: Column, y: Column, numFiles: Int): DataFrame = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    val guard = assert_true(x.isNotNull && y.isNotNull && x >= 0 && y >= 0,
      lit("ZOrder.layout requires non-null, non-negative coordinates: " +
        "a NULL produces no z-value to range-partition on, and the sign " +
        "bit wraps the signed Morton order and voids min/max pruning"))
    df.withColumn("__z", when(guard.isNull, zvalue(x, y)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Per-column RANGE NORMALIZATION for curve layouts: one min/max
    * aggregate over the input, then exact power-of-two shifts map
    * every column onto equal-width bucket ids in [0, 2^bits). Raw
    * interleaving lets the largest-magnitude column own every
    * significant key bit (a (60000, 1500)-range pair sorts purely by
    * the first column — measured: the small dimension pruned NOTHING
    * on real orders data until normalized), and small-range columns
    * additionally need the scale-UP so their top bucket bits carry
    * signal at all.
    */
  private def rangeScaled(df: DataFrame, cols: Seq[Column],
                          bits: Int): Seq[Column] = {
    val aggs = cols.flatMap(c =>
      Seq(min(c.cast("long")), max(c.cast("long"))))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      val mn = if (row.isNullAt(2 * i)) 0L else row.getLong(2 * i)
      val mx = if (row.isNullAt(2 * i + 1)) 0L else row.getLong(2 * i + 1)
      val span = mx - mn
      require(span >= 0,
        s"column ${i + 1} range [$mn, $mx] overflows long arithmetic")
      val shift = (64 - java.lang.Long.numberOfLeadingZeros(span)) - bits
      val off = c.cast("long") - lit(mn)
      if (shift >= 0) shiftright(off, shift) else shiftleft(off, -shift)
    }
  }

  /** The Hilbert-curve key of two int columns — [[zvalue]]'s
    * better-locality sibling: consecutive curve indexes are ALWAYS
    * adjacent cells (Morton jumps at every quadrant boundary), so the
    * contiguous index ranges a clustered write turns into files cover
    * tighter (x, y) bounding boxes — strictly better min/max pruning
    * on the same data and file count. Same guarded non-negative
    * domain and the same single range exchange as [[layout]].
    */
  def hilbertValue(x: Column, y: Column): Column =
    graft.expressions.HilbertIndex(x, y)

  /** n-DIMENSIONAL Morton key (3+ columns; use [[zvalue]]'s codegen'd
    * kernel for the 2-D case): round-robin interleave of the low
    * `bits` bits of each column into one long, built from plain
    * shift/mask/sum arithmetic so it stays inside whole-stage codegen
    * with no custom kernel. Each column must fit in `bits` bits —
    * [[normalizedCurveKey]] scales them so. With k columns,
    * bits <= 63/k.
    */
  def zvalueN(cols: Seq[Column], bits: Int): Column = {
    val k = cols.size
    require(k >= 2, s"need >= 2 columns, got $k")
    require(bits >= 1 && k * bits <= 63,
      s"$k columns x $bits bits exceeds the 63-bit key")
    val terms = for {
      i <- 0 until bits
      (c, d) <- cols.zipWithIndex
    } yield (shiftright(c.cast("long"), i).bitwiseAND(lit(1L))) *
      lit(1L << (i * k + d))
    terms.reduce(_ + _)
  }

  /** Range-normalized curve KEY of `cols` — the sort column of the
    * lake's `z:`/`h:` cluster specs, which range-partition by
    * (partition cols ++ this key), so each file (within each partition
    * DIRECTORY) covers a contiguous curve range and carries tight
    * min/max on every dimension. Columns are RANGE-NORMALIZED before
    * interleaving (one min/max aggregate over `df`, then integer bucket
    * ids of equal width): raw interleaving lets the largest-magnitude
    * column own every significant key bit — a (60000-range,
    * 1500-range, 1024-range) triple would sort purely by the first
    * column and prune on nothing else. 2-D keys use the codegen'd
    * 32-bit Morton or order-31 Hilbert kernel on 16-bit bucket ids;
    * 3-D/4-D keys the shift/mask interleave or the Skilling-transform
    * kernels. NULL coordinates fail loudly via a codegen'd assert,
    * woven into the key's data flow so column pruning cannot drop it.
    */
  def normalizedCurveKey(df: DataFrame, cols: Seq[Column],
                         hilbert: Boolean): Column = {
    val k = cols.size
    require(k >= 2 && k <= 4, s"curve key takes 2-4 columns, got $k")
    val bits = math.min(16, 63 / k)
    val scaled = rangeScaled(df, cols, bits)
    val guard = assert_true(cols.map(_.isNotNull).reduce(_ && _),
      lit("curve layout requires non-null coordinates: a NULL " +
        "produces no curve position to range-partition on"))
    val ints = scaled.map(_.cast("int"))
    val key =
      if (hilbert) hilbertValueN(ints, bits)
      else if (k == 2) zvalue(ints(0), ints(1))
      else zvalueN(scaled, bits)
    when(guard.isNull, key)
  }

  /** The Hilbert key for 2-4 range-scaled int bucket columns: the
    * codegen'd order-31 walk for the 2-D case, the Skilling-transform
    * kernels for 3-D/4-D (`bits` bits per coordinate).
    */
  private def hilbertValueN(ints: Seq[Column], bits: Int): Column =
    ints.size match {
      case 2 => hilbertValue(ints(0), ints(1))
      case 3 => org.apache.spark.sql.graft.GraftExpressions
        .hilbert3(ints(0), ints(1), ints(2), bits)
      case 4 => org.apache.spark.sql.graft.GraftExpressions
        .hilbert4(ints(0), ints(1), ints(2), ints(3), bits)
      case k => throw new IllegalArgumentException(
        s"hilbert key takes 2-4 columns, got $k")
    }

  /** DuckDB-expressible Morton formula for oracle generation: the
    * unrolled `Σ ((x>>i)&1)·4^i + ((y>>i)&1)·2·4^i` for inputs known
    * to fit in `bits` bits — integer arithmetic both engines fix
    * identically. (The Spark kernel interleaves all 32 bits; the
    * unrolled SQL covers the caller's bounded domain, e.g. mod-1024
    * keys need bits = 10.)
    */
  def mortonSql(x: String, y: String, bits: Int): String = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val terms = (0 until bits).flatMap { i =>
      Seq(s"((($x) >> $i) & 1) * ${1L << (2 * i)}",
        s"((($y) >> $i) & 1) * ${1L << (2 * i + 1)}")
    }
    terms.mkString("(", " + ", ")")
  }
}
