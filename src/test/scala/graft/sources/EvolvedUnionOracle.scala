package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** An independent oracle for the snapshot scan's evolved read: version
  * `v` assembled as a DataFrame union. Each vintage's files are read
  * under their own footer schema, the rename chain of every later
  * commit ≤ v is applied to the frame (top-level renames and drops,
  * struct-subfield rebuilds), every column is aligned by name onto the
  * vintages' widened common type (structs, arrays and maps recurse), the
  * frames are unioned by name (absent columns null) and the positions
  * of the deletion vectors ([[deadPositions]]) are anti-joined on
  * `(_metadata.file_name, row_index)`. It shares only the rename chain
  * and [[Snapshots.widen]] with the scan — no name resolution, no schema
  * localization, no reader-side vector. */
object EvolvedUnionOracle {

  def read(s: SparkSession, dir: String, v: Int): DataFrame = {
    val fset = Snapshots.files(s, dir, v)
    val dv = deadPositions(s, dir, v)
    val chain = Snapshots.state(s, dir, v).chain
    val frames = fset.groupBy(Snapshots.vintageOf).toSeq.sortBy(_._1).map {
      case (c, paths) =>
        val base = s.read.parquet(paths.map(p => new Path(dir, p).toString): _*)
        var df =
          if (dv.isEmpty) base
          else base.withColumn("_fp", col("_metadata.file_name"))
            .withColumn("_ri", col("_metadata.row_index"))
        for (later <- (c + 1) to v; (o, n) <- chain(later))
          df = applyEntry(df, o, n)
        df
    }
    val target = frames.flatMap(_.schema.fields)
      .groupBy(_.name).map { case (n, fs) =>
        n -> fs.map(_.dataType).reduce(Snapshots.widen) }
    val union = frames.map { f =>
      f.select(f.columns.toSeq.map(c =>
        alignTo(col(s"`$c`"), f.schema(c).dataType, target(c)).as(c)): _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    dv match {
      case None => union
      case Some(d) =>
        union.join(d.select(col("file_name").as("_fp"),
            col("row_index").as("_ri")), Seq("_fp", "_ri"), "left_anti")
          .drop("_fp", "_ri")
    }
  }

  /** The `(file_name, row_index)` positions version `v`'s deletion
    * vectors hold, decoded on the driver (spec-sized tables), or None
    * when no file of `v` has a vector. */
  def deadPositions(s: SparkSession, dir: String, v: Int)
      : Option[DataFrame] = {
    import s.implicits._
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val dead = Snapshots.entries(s, dir, v).flatMap(e => e.dv.toSeq
      .flatMap { d =>
        val it = DeletionVectors.read(fs, new Path(dir, d)).getLongIterator
        Iterator.continually(it).takeWhile(_.hasNext)
          .map(i => (new Path(e.path).getName, i.next())).toSeq
      })
    if (dead.isEmpty) None
    else Some(dead.toDF("file_name", "row_index"))
  }

  /** One rename-chain entry on a frame: a top-level entry renames or
    * drops the column, a dotted one rebuilds the parent struct. A path
    * the frame lacks is a no-op (the vintage predates it). */
  private def applyEntry(df: DataFrame, o: String, n: String): DataFrame =
    if (!o.contains('.')) {
      if (!df.columns.contains(o)) df
      else if (n == Snapshots.DropMarker) df.drop(o)
      else df.withColumnRenamed(o, n)
    } else {
      val top = o.takeWhile(_ != '.')
      val rest = o.substring(top.length + 1)
      def hasPath(dt: DataType, segs: List[String]): Boolean =
        (dt, segs) match {
          case (_, Nil) => true
          case (st: StructType, h :: t) =>
            st.fields.find(_.name == h).exists(f => hasPath(f.dataType, t))
          case _ => false
        }
      val i = df.schema.fieldNames.indexOf(top)
      if (i < 0 || !hasPath(df.schema.fields(i).dataType,
          rest.split('.').toList)) df
      else if (n == Snapshots.DropMarker)
        df.withColumn(top, col(top).dropFields(rest))
      else
        // a nested rename stays inside its parent struct
        df.withColumn(top, col(top)
          .withField(n.substring(n.indexOf('.') + 1), col(o))
          .dropFields(rest))
    }

  /** Column `c` (typed `from`) as type `to`: structs by name (missing
    * subfields null, a null struct stays null), arrays and maps element-
    * wise, anything else a cast. */
  private def alignTo(c: Column, from: DataType, to: DataType): Column =
    (from, to) match {
      case (f, t) if f == t => c
      case (f: StructType, t: StructType) =>
        val kids = t.fields.toSeq.map { tf =>
          f.fields.find(_.name == tf.name) match {
            case Some(ff) =>
              alignTo(c.getField(tf.name), ff.dataType, tf.dataType)
                .as(tf.name)
            case None => lit(null).cast(tf.dataType).as(tf.name)
          }
        }
        when(c.isNull, lit(null).cast(t)).otherwise(struct(kids: _*))
      case (f: ArrayType, t: ArrayType) =>
        transform(c, x => alignTo(x, f.elementType, t.elementType))
      case (f: MapType, t: MapType) =>
        map_from_arrays(
          transform(map_keys(c), k => alignTo(k, f.keyType, t.keyType)),
          transform(map_values(c), x => alignTo(x, f.valueType, t.valueType)))
      case (_, t) => c.cast(t)
    }
}
