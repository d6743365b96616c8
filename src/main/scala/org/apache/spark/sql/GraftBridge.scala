package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to Spark's `private[sql]` Column ↔ Expression conversion
  * (Spark 4 moved Column to a backend-agnostic ColumnNode representation;
  * classic-backend extension libraries reach the Catalyst expression
  * through `classic.ExpressionUtils`). This is the only file outside the
  * `graft` namespace.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def functionRegistry(spark: SparkSession): org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry

  /** Register a table-valued function (the `SELECT * FROM fn(...)`
    * surface): the builder maps the call's argument expressions to the
    * logical plan the reference resolves to. */
  def registerTableFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** A parquet scan over EXPLICIT leaf dirs, each with its value of the
    * one int partition column `partCol`. The driver lists every dir
    * itself, one `listStatus` each (what Spark's own file index does
    * below `parallelPartitionDiscovery.threshold` paths), and the file
    * index is planned from that listing with the given schemas: no
    * distributed listing job and no schema-inference job at any dir
    * count, and no session conf touched. A missing dir fails loudly
    * (FileNotFoundException), as `DataFrameReader.parquet` does. */
  def parquetLeafDirs(spark: SparkSession, leafDirs: Seq[(String, Int)],
      dataSchema: org.apache.spark.sql.types.StructType, partCol: String): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources._
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val listed = leafDirs.map { case (d, p) =>
      val raw = new Path(d)
      val fs = raw.getFileSystem(conf)
      val path = fs.makeQualified(raw)
      (path, p, fs.listStatus(path).filter(st => st.isFile &&
        !org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(st.getPath.getName)))
    }
    val byDir = listed.map { case (path, _, files) => path -> files }.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byDir.get(path)
      def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val partSchema = StructType(Seq(StructField(partCol, IntegerType, nullable = false)))
    val spec = PartitionSpec(partSchema,
      listed.map { case (path, p, _) => PartitionPath(InternalRow(p), path) })
    val index = new InMemoryFileIndex(session, listed.map(_._1), Map.empty, None,
      cache, Some(spec))
    session.baseRelationToDataFrame(HadoopFsRelation(index, partSchema, dataSchema,
      None, new parquet.ParquetFileFormat, Map.empty)(session))
  }

  /** Analyzed-input logical plan of a DataFrame (classic backend). */
  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.DataFrame].queryExecution.logical

  /** A sibling session over the same SparkContext with the given
    * extensions applied — what `spark.sql.extensions` would produce at
    * session build (that static conf cannot be changed on a live
    * context, so extension tests construct the session directly). */
  def sessionWithExtensions(spark: SparkSession,
      configure: SparkSessionExtensions => Unit): SparkSession = {
    val ext = new SparkSessionExtensions
    configure(ext)
    // the constructor is private[classic] in Scala but public in
    // bytecode — reflection is the sanctioned-enough path for a test
    // bridge (mirrors what Builder.getOrCreate does internally).
    // Matched by parameter types, not arity, so a Spark minor bump that
    // adds an overload fails loudly here instead of picking the wrong one
    val wanted = Seq(
      classOf[org.apache.spark.SparkContext], classOf[Option[_]],
      classOf[Option[_]], classOf[SparkSessionExtensions],
      classOf[Map[_, _]], classOf[Map[_, _]])
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession]
      .getConstructors.find(_.getParameterTypes.toSeq == wanted)
      .getOrElse(throw new IllegalStateException(
        "classic.SparkSession no longer has the (SparkContext, Option, Option, " +
          "SparkSessionExtensions, Map, Map) constructor — update GraftBridge " +
          "for this Spark version"))
    ctor.newInstance(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sparkContext,
      None, None, ext,
      Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[SparkSession]
  }
}
