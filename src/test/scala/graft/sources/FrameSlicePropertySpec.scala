package graft.sources

import org.apache.spark.sql.connector.read.InputPartition
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property over the replay source's planned slices: for any
  * segment sizes and offsets, the input partitions cover each segment's
  * [from, until) exactly, in order, at most MaxFramesPerSlice frames
  * each, and reading them back loses or repeats no frame at a slice
  * boundary. A torn trailing frame is never admitted. Raw ScalaCheck
  * runner, as in CodecPropertySpec. */
class FrameSlicePropertySpec extends AnyFunSuite {

  private val Max = FrameReplayStream.MaxFramesPerSlice

  /** Sizes around slice boundaries as often as anywhere else. */
  private val sizeGen: Gen[Int] = Gen.frequency(
    2 -> Gen.chooseNum(0, 3 * Max + 500),
    1 -> Gen.chooseNum(1, 3).flatMap(k => Gen.chooseNum(-1, 1).map(k * Max + _)))

  private def pointGen(lo: Int, hi: Int): Gen[Int] = {
    val edges = (0 to 3).flatMap(k => Seq(k * Max - 1, k * Max, k * Max + 1))
      .filter(p => p >= lo && p <= hi)
    if (edges.isEmpty) Gen.chooseNum(lo, hi)
    else Gen.frequency(2 -> Gen.chooseNum(lo, hi), 1 -> Gen.oneOf(edges))
  }

  /** (frames in the segment, from, until, torn trailing frame). */
  private val segGen: Gen[(Int, Int, Int, Boolean)] = for {
    n <- sizeGen
    from <- pointGen(0, n)
    until <- pointGen(from, n)
    torn <- Gen.oneOf(true, false)
  } yield (n, from, until, torn)

  private def frame(i: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(i).array()

  private def writeSegment(dir: java.io.File, name: String, n: Int, torn: Boolean): Unit = {
    FrameSpool.write(dir.getAbsolutePath, (0 until n).map(frame), name)
    if (torn) {
      // a recorder flushed the length prefix but only part of the payload
      val out = new java.io.DataOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, s"$name.bin"), true))
      try { out.writeInt(4); out.write(Array[Byte](7, 7)) } finally out.close()
    }
  }

  test("planned slices cover [from, until) exactly, in order, and a torn frame is not admitted") {
    val prop = Prop.forAllNoShrink(Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, segGen))) { segs =>
      val dir = java.nio.file.Files.createTempDirectory("slices").toFile
      try {
        segs.zipWithIndex.foreach { case ((n, _, _, torn), i) => writeSegment(dir, f"seg-$i%02d", n, torn) }
        val source = new SpoolFrameSource(dir.getAbsolutePath)
        val listed = source.segments()
        val stream = new FrameReplayStream(source, Int.MaxValue)
        val admitted = stream.latestOffset(FrameOffset.zero, stream.getDefaultReadLimit)
          .asInstanceOf[FrameOffset]
        val start = FrameOffset(listed.zip(segs).map { case ((p, _), s) => p -> s._2.toLong })
        val end = FrameOffset(listed.zip(segs).map { case ((p, _), s) => p -> s._3.toLong })
        val parts = stream.planInputPartitions(start, end).toSeq
          .map(_.asInstanceOf[FrameReplayPartition])
        val reader = FrameReplayReaderFactory(source)
        def read(p: InputPartition): Seq[Int] = {
          val r = reader.createReader(p)
          val out = Seq.newBuilder[Int]
          while (r.next()) out += java.nio.ByteBuffer.wrap(r.get().getBinary(0)).getInt
          out.result()
        }
        listed.zip(segs).forall { case ((path, count), (n, from, until, _)) =>
          val mine = parts.filter(_.file == path)
          val bounds = mine.map(p => (p.fromRecord, p.untilRecord))
          count == n && admitted.countFor(path) == n &&
            bounds.forall { case (a, b) => b > a && b - a <= Max } &&
            bounds.map(_._1).headOption.forall(_ == from) &&
            bounds.map(_._2).lastOption.forall(_ == until) &&
            bounds.zip(bounds.drop(1)).forall { case (x, y) => x._2 == y._1 } &&
            (mine.nonEmpty || from == until) &&
            mine.flatMap(read) == (from until until)
        } && parts.map(_.file) == parts.map(_.file).sorted
      } finally {
        Option(dir.listFiles()).foreach(_.foreach(_.delete()))
        dir.delete()
      }
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(result.passed, s"slices: $result")
  }
}
