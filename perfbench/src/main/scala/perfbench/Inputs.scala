package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.MessageTypeParser

/** Seeded input generation. The same seed always gives byte-identical
  * files; setup generates them more than once and compares digests. */
object Inputs {

  /** A fresh generator per (seed, stream): units draw independent
    * permutations without depending on how many units ran before. */
  def rng(seed: Long, stream: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1L)

  /** Fisher–Yates permutation of `xs` under `r`. */
  def permute[T](xs: IndexedSeq[T], r: java.util.Random): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  // ---- migration mapping ------------------------------------------------

  /** The join key of a mapping CSV row: its trimmed first field. */
  def mappingKey(row: String): String = row.takeWhile(_ != ',').trim

  final case class Expected(rows: Long, found: Long, distinct: Long)

  /** The counts `MigrationPipeline.run` must report for a mapping, given
    * how many export customers carry each id. Under strict duplicate
    * semantics the k-th row of a key matches the k-th customer with that
    * id, so a key found c times in the export matches at most c of its
    * rows: ids absent from the export and surplus ordinals of duplicate
    * keys are not found. */
  def expected(rows: Seq[String], exportCount: String => Int): Expected = {
    val perKey = rows.groupBy(mappingKey).view.mapValues(_.length).toMap
    Expected(
      rows = rows.length.toLong,
      found = perKey.map { case (k, n) => math.min(n, exportCount(k)).toLong }.sum,
      distinct = perKey.size.toLong)
  }

  /** Write a mapping CSV: the header, then the rows in the given order. */
  def writeMapping(path: Path, header: String, rows: Seq[String]): Unit = {
    Files.createDirectories(path.getParent)
    val sb = new StringBuilder(header).append('\n')
    rows.foreach(r => sb.append(r).append('\n'))
    Files.writeString(path, sb.toString)
  }

  // ---- graph tables -----------------------------------------------------

  /** A TPC-H-shaped order/line-item pair, reduced to the columns the graph
    * queries read. Fixed content (its own constant seed); a run's seed
    * only permutes the rows, so query results do not depend on it. */
  final case class GraphShape(orders: Int, lineitems: Int, customers: Int,
      parts: Int, suppliers: Int)

  def ordersRows(g: GraphShape): IndexedSeq[(Long, Long)] = {
    val r = new java.util.Random(20230618L)
    (0 until g.orders).map(o => (o.toLong, r.nextInt(g.customers).toLong))
  }

  def lineitemRows(g: GraphShape): IndexedSeq[(Long, Long, Long)] = {
    val r = new java.util.Random(20230619L)
    (0 until g.lineitems).map(_ =>
      (r.nextInt(g.orders).toLong, r.nextInt(g.parts).toLong, r.nextInt(g.suppliers).toLong))
  }

  /** Write rows of nullable int64 columns as one parquet file, on the
    * driver: no Spark job, and nothing in the file depends on when or
    * where it was written. */
  def writeLongParquet(file: Path, columns: Seq[String], rows: Seq[Product]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      columns.map(c => s"optional int64 $c;").mkString("message row { ", " ", " }"))
    Files.createDirectories(file.getParent)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file)).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      columns.indices.foreach(i => g.add(i, r.productElement(i).asInstanceOf[Long]))
      w.write(g)
    } finally w.close()
  }

  /** Row count from a parquet footer. */
  def parquetRows(file: Path): Long = {
    val r = ParquetFileReader.open(new LocalInputFile(file))
    try r.getRecordCount finally r.close()
  }

  // ---- files ------------------------------------------------------------

  def listFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).sorted().toArray(new Array[Path](_)).toSeq
    finally s.close()
  }

  /** SHA-256 over every file under `dir` (relative names and bytes), in
    * name order. */
  def digest(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    listFiles(dir).foreach { p =>
      md.update(dir.relativize(p).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    val all = try s.sorted(java.util.Comparator.reverseOrder[Path]()).toArray(new Array[Path](_))
    finally s.close()
    all.foreach(Files.delete)
  }

  /** Occurrences of an opening `<tag` element (followed by a space, `>`
    * or `/`) in a file. */
  def countElements(file: Path, tag: String): Long = {
    val re = ("<" + java.util.regex.Pattern.quote(tag) + "[\\s>/]").r
    re.findAllMatchIn(Files.readString(file)).length.toLong
  }

  /** Data lines of a CSV file with a header line. */
  def csvDataLines(file: Path): Long = {
    val s = Files.lines(file)
    try s.filter(!_.isEmpty).count() - 1 finally s.close()
  }
}
