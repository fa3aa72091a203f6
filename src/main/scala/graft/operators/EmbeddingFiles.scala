package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type.Repetition.REPEATED
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
import scala.util.Using

/** One embedding looked up by `vec_id` on the driver, straight from the
  * parquet files of a bare parquet relation: no plan, no codegen and no
  * Spark job. A serving request pays a whole Spark query otherwise, just
  * to find its query row before it can plan the answer.
  */
private[graft] object EmbeddingFiles {

  /** The `embedding` of the first row whose `vec_id` is `id`, in the
    * relation's file order: `Some(None)` when no row has the id, and
    * `None` when this read cannot answer the way Spark would, so the
    * caller runs the Spark query instead. It answers only when
    *  - `emb`'s analyzed plan is one unpartitioned parquet
    *    `LogicalRelation` (what `Tables.parquet` returns) with
    *    `vec_id BIGINT` and `embedding ARRAY<FLOAT>`;
    *  - the relation neither ignores corrupt nor missing files;
    *  - every file stores `vec_id` as INT64 and `embedding` as a float
    *    list in a layout Spark reads as one ([[floats]]);
    *  - the matched row's list and its elements are non-null.
    *
    * Each file is opened with parquet-mr under the session's Hadoop conf
    * plus the relation's options, reads only the two columns, and pushes
    * `vec_id == id` as a `FilterApi` predicate: row groups whose `vec_id`
    * statistics exclude the id are never read, and pages are skipped by
    * the column index where the file has one. Every file is opened, so a
    * missing or corrupt file fails as Spark's scan would.
    */
  def lookup(emb: DataFrame, id: Long): Option[Option[Array[Float]]] =
    emb.queryExecution.analyzed match {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _)
          if h.fileFormat.isInstanceOf[ParquetFileFormat] && h.partitionSchema.isEmpty &&
            h.dataSchema.find(_.name == "vec_id").exists(_.dataType == LongType) &&
            h.dataSchema.find(_.name == "embedding").exists(_.dataType match {
              case ArrayType(FloatType, _) => true
              case _ => false
            }) &&
            !Seq("ignoreCorruptFiles", "ignoreMissingFiles").exists(k =>
              h.options.getOrElse(k, emb.sparkSession.conf.get(s"spark.sql.files.$k")).toBoolean) =>
        val conf = emb.sparkSession.sessionState.newHadoopConfWithOptions(h.options)
        val perFile = h.location.inputFiles.toSeq
          .map(f => readFile(conf, new Path(new java.net.URI(f)), id))
        // The first file that decides (a match, or a row it cannot
        // decode) answers; no file deciding means the id is absent.
        perFile.find(_ != Some(None)).getOrElse(Some(None))
      case _ => None
    }

  /** [[lookup]] over one file: `Some(None)` for no match in it. */
  private def readFile(conf: Configuration, file: Path, id: Long): Option[Option[Array[Float]]] = {
    val filter = FilterCompat.get(FilterApi.eq(FilterApi.longColumn("vec_id"), java.lang.Long.valueOf(id)))
    val opts = HadoopReadOptions.builder(conf, file).withRecordFilter(filter).build()
    Using.resource(ParquetFileReader.open(HadoopInputFile.fromPath(file, conf), opts)) { r =>
      val schema = r.getFileMetaData.getSchema
      def field(n: String): Option[Type] =
        if (schema.containsField(n)) Some(schema.getType(schema.getFieldIndex(n))) else None
      (field("vec_id").filter(isInt64), field("embedding").flatMap(e => floats(e).map(e -> _))) match {
        case (Some(v), Some((e, decode))) =>
          val read = new MessageType(schema.getName, v, e)
          r.setRequestedSchema(read)
          val io = new ColumnIOFactory().getColumnIO(read, schema)
          // A record the filter drops is materialized as null.
          val hit = Iterator.continually(r.readNextFilteredRowGroup()).takeWhile(_ != null)
            .flatMap { pages =>
              val rows = io.getRecordReader(pages, new GroupRecordConverter(read), filter)
              Iterator.fill(pages.getRowCount.toInt)(rows.read())
            }
            .find(g => g != null && g.getFieldRepetitionCount(0) == 1 && g.getLong(0, 0) == id)
          hit.fold(Option(Option.empty[Array[Float]]))(g => decode(g).map(Some(_)))
        case _ => None
      }
    }
  }

  /** A plain signed INT64, the only `vec_id` Spark reads as BIGINT. */
  private def isInt64(t: Type): Boolean =
    t.isPrimitive && !t.isRepetition(REPEATED) &&
      t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
      Option(t.getLogicalTypeAnnotation).forall(_ == LogicalTypeAnnotation.intType(64, true))

  /** The decoder of a float list stored as `t`, for the LIST layouts
    * Spark reads as `ARRAY<FLOAT>`: a group over a `repeated float` (the
    * 2-level legacy layout), or over a repeated one-float group (the
    * standard 3-level layout, and Spark's legacy `bag`/`array` one)
    * unless that group is named `array` or `<name>_tuple`, which Spark
    * reads as a struct element. The decoder reads field 1 of a projected
    * (vec_id, embedding) record and gives None for a null list or
    * element. Any other layout has no decoder.
    */
  private def floats(t: Type): Option[Group => Option[Array[Float]]] = {
    def isFloat(x: Type) = x.isPrimitive &&
      x.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.FLOAT
    def list(g: Group): Option[Group] =
      if (g.getFieldRepetitionCount(1) == 1) Some(g.getGroup(1, 0)) else None
    Some(t).filter(t => !t.isPrimitive && t.asGroupType.getFieldCount == 1 &&
        t.getLogicalTypeAnnotation == LogicalTypeAnnotation.listType())
      .map(_.asGroupType.getType(0)).filter(_.isRepetition(REPEATED)).collect {
        case rep if isFloat(rep) =>
          (g: Group) => list(g).map(l => Array.tabulate(l.getFieldRepetitionCount(0))(l.getFloat(0, _)))
        case rep if !rep.isPrimitive && rep.asGroupType.getFieldCount == 1 &&
            isFloat(rep.asGroupType.getType(0)) && !rep.asGroupType.getType(0).isRepetition(REPEATED) &&
            rep.getName != "array" && rep.getName != s"${t.getName}_tuple" =>
          (g: Group) => list(g).flatMap { l =>
            val elems = Seq.tabulate(l.getFieldRepetitionCount(0))(l.getGroup(0, _))
            if (elems.exists(_.getFieldRepetitionCount(0) != 1)) None
            else Some(elems.map(_.getFloat(0, 0)).toArray)
          }
      }
  }
}
