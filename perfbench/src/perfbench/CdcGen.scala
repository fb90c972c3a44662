package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded pgoutput-shaped change feed for the CDC workloads.
  *
  * Each chunk is a run of transactions, each framed by `begin` and
  * `commit` control events as the wire protocol emits them, with row
  * events (insert / update / delete) inside, each on a uniformly chosen
  * table. LSNs increase strictly across the whole feed. Updates and
  * deletes pick uniformly among the seeded keys; inserts always take
  * fresh keys above the seeded range. `image(key, chunk)` renders a
  * row image.
  */
final class CdcGen(seed: Long, tables: Seq[String], seededRows: Long,
    rowsPerChunk: Int, rowsPerTxn: Int, insertShare: Double, deleteShare: Double,
    image: (Long, Int) => String) {

  final case class Chunk(index: Int, lines: Seq[String], rowEvents: Int)

  /** The first `n` chunks of the feed; the same seed gives the same chunks. */
  def chunks(n: Int): Seq[Chunk] = {
    val rnd = new scala.util.Random(seed)
    val nextKey = scala.collection.mutable.Map(tables.map(_ -> seededRows): _*)
    var lsn = 16L
    def nextLsn(): String = { lsn += 16L; f"0/$lsn%08X" }
    (0 until n).map { c =>
      val out = Vector.newBuilder[String]
      var rows = 0
      while (rows < rowsPerChunk) {
        out += s"""{"lsn": "${nextLsn()}", "tag": "begin"}"""
        val inTxn = math.min(rowsPerTxn, rowsPerChunk - rows)
        for (_ <- 0 until inTxn) {
          val table = tables(rnd.nextInt(tables.size))
          val u = rnd.nextDouble()
          val key =
            if (u < insertShare) { val k = nextKey(table); nextKey(table) = k + 1; k }
            else (rnd.nextDouble() * seededRows).toLong
          val l = nextLsn()
          out += (
            if (u < insertShare)
              s"""{"lsn": "$l", "tag": "insert", "table": "$table", "new": ${image(key, c)}}"""
            else if (u < insertShare + deleteShare)
              s"""{"lsn": "$l", "tag": "delete", "table": "$table", "old": {"id": $key}}"""
            else
              s"""{"lsn": "$l", "tag": "update", "table": "$table", "new": ${image(key, c)}}""")
        }
        out += s"""{"lsn": "${nextLsn()}", "tag": "commit"}"""
        rows += inTxn
      }
      Chunk(c, out.result(), rows)
    }
  }
}

object CdcGen {
  /** Write chunks to `dir`, one file each, in order. The file source
    * replays pending files by modification time, so each file is stamped
    * strictly after the previous one and strictly in the past. Returns
    * the bytes written per chunk. */
  def write(dir: Path, chunks: Seq[CdcGen#Chunk]): Seq[Long] = {
    Files.createDirectories(dir)
    val t0 = System.currentTimeMillis() - 2000L * (chunks.size + 1)
    chunks.zipWithIndex.map { case (chunk, i) =>
      val f = dir.resolve(f"chunk_${chunk.index}%05d.jsonl")
      val bytes = chunk.lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
      Files.write(f, bytes)
      f.toFile.setLastModified(t0 + i * 2000L)
      bytes.length.toLong
    }
  }
}
