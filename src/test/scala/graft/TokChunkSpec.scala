package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ops.TextOps

/** Contract of `tok_chunk_overlap` against a driver-side
  * from-first-principles reconstruction: chunk boundaries, counts,
  * and content hashes must all be derivable from the raw text alone.
  */
class TokChunkSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"

  private def toks(text: String): Vector[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector

  /** Driver twin of graft_polyhash. */
  private def polyHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      h = (h * 31 + cp) % 1000000007L
    }
    h
  }

  test("every chunk is the exact W-token window at its stride offset, " +
    "count matches 1 + ceil(max(0, n-W)/S), and hashes reproduce") {
    val (w, s) = (TextOps.ChunkW, TextOps.ChunkS)
    val docs = graft.engine.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> toks(r.getString(1))).toMap
    val out = SparkEntry.queries("tok_chunk_overlap")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val byDoc = out.groupBy(_._1)
    docs.foreach { case (id, ts) =>
      if (ts.isEmpty) assert(!byDoc.contains(id), s"doc $id: empty doc chunked")
      else {
        val expectChunks =
          if (ts.length <= w) 1 else 1 + (ts.length - w + s - 1) / s
        val chunks = byDoc(id).sortBy(_._2)
        assert(chunks.length == expectChunks, s"doc $id: chunk count")
        chunks.foreach { case (_, k, nToks, hash) =>
          val slice = ts.slice((k * s).toInt, (k * s).toInt + w)
          assert(nToks == slice.length, s"doc $id chunk $k: n_toks")
          assert(slice.nonEmpty, s"doc $id chunk $k: empty chunk emitted")
          assert(hash == polyHash(slice.mkString(" ")),
            s"doc $id chunk $k: content hash")
        }
      }
    }
    // coverage: the stride-48 windows jointly cover every token index
    docs.filter(_._2.nonEmpty).foreach { case (id, ts) =>
      val covered = byDoc(id).flatMap { case (_, k, n, _) =>
        (k * TextOps.ChunkS) until (k * TextOps.ChunkS + n) }.toSet
      assert(covered == ts.indices.map(_.toLong).toSet, s"doc $id: gap in coverage")
    }
  }
}
