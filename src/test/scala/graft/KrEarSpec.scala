package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sim.KrEar

class KrEarSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val sf = SparkTestSession.sf0001

  test("KR-EAR: dual encoders converge; eval in the reference tier") {
    val (entIds, valIds, relT, attrT) = KrEar.prepare(spark, sf)
    val nEnt = entIds.count().toInt
    val nVal = valIds.count().toInt
    assert(nEnt > 0 && nVal > 0)
    // every attributional tail is a value id; every relational one an entity
    assert(relT.count() > 0 && attrT.count() > 0)
    val model = KrEar.train(spark, relT, attrT, nEnt, nVal,
      KrEar.Config(epochs = 5))
    // bit-exact pin of the trained floats and losses (TrainPins)
    assert(TrainPins.sha(Seq(model.ent, model.value, model.rel, model.attr, model.proj),
      Seq(model.relLoss, model.attrLoss)) ==
      "d046b8225cbd102ccabb9db5089322c8fd3f04e5cdb85e0ecf86fcc67a0395b0")
    assert(model.relLoss.head > model.relLoss.last,
      s"rel loss did not decrease: ${model.relLoss.toSeq}")
    assert(model.attrLoss.head > model.attrLoss.last,
      s"attr loss did not decrease: ${model.attrLoss.toSeq}")
    // entity + value rows stay unit-norm (normalized per epoch)
    val en = math.sqrt(model.ent(0).map(x => x.toDouble * x).sum)
    val vn = math.sqrt(model.value(0).map(x => x.toDouble * x).sum)
    assert(math.abs(en - 1.0) < 1e-4 && math.abs(vn - 1.0) < 1e-4)

    val row = KrEar.eval(spark, sf, KrEar.Config(epochs = 5)).head()
    // bit-exact pin of theta, f1, precision, recall, mrr (TrainPins)
    assert(TrainPins.evalBits(row) == TrainPins.bits(
      0.78, 0.45264452644526443, 0.3376146788990826,
      0.6865671641791045, 0.6881218470149253))
    // the reference's EAR tier is weak (F1 ~0.15-0.2 on census); assert
    // the tier and a usable ranking signal, not more
    assert(row.getAs[Double]("f1") > 0.05, s"krear f1 ${row.get(3)}")
    assert(row.getAs[Double]("mrr") > 0.1)
  }

  test("KR-EAR neg_rel_rate: rel+attr corruption adds bounded hinge terms") {
    val (entIds, valIds, relT, attrT) = KrEar.prepare(spark, sf)
    val nEnt = entIds.count().toInt
    val nVal = valIds.count().toInt
    val base = KrEar.train(spark, relT, attrT, nEnt, nVal,
      KrEar.Config(epochs = 4))
    val m = KrEar.train(spark, relT, attrT, nEnt, nVal,
      KrEar.Config(epochs = 4, negRelRate = 1))
    assert(TrainPins.sha(Seq(base.ent, base.value, base.rel, base.attr, base.proj),
      Seq(base.relLoss, base.attrLoss)) ==
      "31e43209b8750c10c7b5d8cac4ef709d5ac3a03e48374d251dccb199e0dfc36d")
    assert(TrainPins.sha(Seq(m.ent, m.value, m.rel, m.attr, m.proj),
      Seq(m.relLoss, m.attrLoss)) ==
      "df23d7d9ab281856c40e31b5034ef04e8bca76153a96782404893bd9b46a9d00")
    // corruption adds hinge terms from epoch 0, in both encoders
    assert(m.relLoss.head > base.relLoss.head,
      s"rel: ${m.relLoss.head} vs ${base.relLoss.head}")
    assert(m.attrLoss.head > base.attrLoss.head,
      s"attr: ${m.attrLoss.head} vs ${base.attrLoss.head}")
    // sphere-projected training stays bounded (no divergence)
    assert(m.relLoss.last < 5 * m.relLoss.head, m.relLoss.toSeq.toString)
    assert(m.attrLoss.last < 5 * m.attrLoss.head, m.attrLoss.toSeq.toString)
  }
}
