package graft

import graft.text.ClassifierTrain

/** Driver-side reimplementation of the st23 promotion fold — shares
  * NOTHING with the Spark path except [[PerceptronReference]]'s
  * feature hash (itself an independent mirror of the engine's fold),
  * so the PropertySpec equality is a genuine two-implementation check
  * of the firing decisions, the clean-pool membership, the split
  * predicates, the two-model evaluation, and the promote-or-reject
  * versioning.
  */
private[graft] object PromoteReference {

  /** Mirror of StreamDrift.tokenLogBucket: floor(log2(token count))
    * via integer bit length ( == length(bin(n)) - 1 for n >= 1). */
  private def tokenLogBucket(text: String): Long = {
    val n = text.toLowerCase.trim.replaceAll("\\s+", " ")
      .split(" ", -1).length.toLong
    63L - java.lang.Long.numberOfLeadingZeros(n)
  }

  /** Mirror of TextFns.splitAssign: fold the md5 hex of the id
    * (seeded from the FIRST char code) mod 100 < 80 -> train. */
  private def splitOf(id: Long): String = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val codes = hex.map(_.toLong)
    val h = codes.tail.foldLeft(codes.head) { (acc, c) =>
      (acc * 31 + c) % 1000000007L
    }
    if (h % 100 < 80) "train" else "val"
  }

  def fold(docs: Seq[(Long, String, String)], nSlices: Int)
      : Seq[(Long, Long, Long, Long, Long, Long, Option[Long], String)] = {
    def hist(b: Long): Map[Long, Long] =
      docs.filter(_._1 % nSlices == b)
        .groupBy(d => tokenLogBucket(d._2))
        .map { case (k, g) => k -> g.size.toLong }
    val fired = (0L until nSlices.toLong).map { b =>
      val cur = hist(b)
      val prev = (0L until b).flatMap(c => hist(c).toSeq)
        .groupMapReduce(_._1)(_._2)(_ + _)
      val n = BigInt(cur.values.sum)
      val pn = BigInt(prev.values.sum)
      val drift = (cur.keySet ++ prev.keySet).toSeq.map { k =>
        (BigInt(cur.getOrElse(k, 0L)) * pn -
          BigInt(prev.getOrElse(k, 0L)) * n).abs
      }.sum
      b -> (drift * 1000000 >
        BigInt(graft.streaming.DriftGate.ThresholdPpm) * n * pn)
    }.toMap
    var champion: Option[IndexedSeq[Long]] = None
    var published = 0L
    val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Long,
      Option[Long], String)]
    for (b <- 0L until nSlices.toLong) {
      if (b == 0L || fired(b)) {
        val clean = (0L to b).filter(c => !fired(c)).toSet
        val cleanDocs = docs.filter(d => clean.contains(d._1 % nSlices))
        val train = cleanDocs.filter(d => splitOf(d._1) == "train")
        val valD = cleanDocs.filter(d => splitOf(d._1) == "val")
        val (w, _, _) = PerceptronReference.fit(train,
          ClassifierTrain.Iters)
        def ok(wv: IndexedSeq[Long]): Long = valD.count { case (_, t, l) =>
          val y = if (l == "en") 1L else -1L
          y * PerceptronReference.scoreOf(wv,
            PerceptronReference.featsOf(t)) > 0L
        }.toLong
        val champOk = champion.map(ok).getOrElse(-1L)
        val challOk = ok(w)
        val nVal = valD.size.toLong
        val accepted = champion.isEmpty || challOk >= champOk
        val version = if (accepted) Some(published + 1L) else None
        val status = if (accepted) "published" else "rejected"
        if (accepted) { champion = Some(w); published += 1L }
        w.zipWithIndex.foreach { case (wt, bk) =>
          out += ((b, bk.toLong, wt, champOk, challOk, nVal, version,
            status))
        }
      }
    }
    out.result()
  }
}
