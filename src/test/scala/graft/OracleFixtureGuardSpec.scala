package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg.{DataGen, Materialize, Model}
import graft.queries.PipelineOracles

/** Drift guard between the datagen noise fixtures and the HAND-DERIVED
  * parse tables embedded in the kg_pipeline_triples DuckDB oracle
  * (PipelineOracles): the oracle's bp/ls/sx VALUES rows were worked out
  * by hand from the reference's regex chains and the SQL's list-index
  * arithmetic bakes in the noise-list sizes — if someone widens the
  * datagen noise (or the vocabularies) without re-deriving the tables,
  * this test fails LOUDLY instead of the driver gate silently agreeing
  * with a stale oracle.
  *
  * Note this does not weaken the oracle's independence: the oracle rows
  * stay hand-authored; this guard only detects DRIFT by cross-checking
  * them against the engine's parse (a disagreement means one of the two
  * changed — go re-derive by hand).
  */
class OracleFixtureGuardSpec extends AnyFunSuite {

  val sql: String = PipelineOracles.pipelineTriples

  test("noise-list sizes match the oracle SQL's index arithmetic") {
    // (i%12) for body parts + sex, ((i+1)%8)/((i+2)%8) for life stages
    assert(DataGen.bodyPartNoisy.size == 12,
      "bodyPartNoisy size changed: update the %12 arithmetic AND the bp VALUES in PipelineOracles")
    assert(DataGen.lifeStageNoisy.size == 8,
      "lifeStageNoisy size changed: update the %8 arithmetic AND the ls VALUES in PipelineOracles")
    assert(DataGen.sexNoisy.size == 12,
      "sexNoisy size changed: update the %12 arithmetic AND the sx VALUES in PipelineOracles")
    assert(DataGen.bodyPartIds.size == DataGen.bodyPartNoisy.size)
    assert(DataGen.lifeStageIds.size == DataGen.lifeStageNoisy.size)
    assert(DataGen.K == 200, "K changed: update every %200 in PipelineOracles")
  }

  private def sqlRows(table: String): Set[Seq[String]] = {
    // extract the VALUES tuples of `table(...) AS (VALUES ...)`
    val start = sql.indexOf(s"$table(")
    assert(start >= 0, s"oracle table $table missing")
    val vals = sql.indexOf("VALUES", start)
    val end = sql.indexOf(")),", vals)
    val body = sql.substring(vals + "VALUES".length, end + 1)
    // tuples are quote-delimited strings (which may contain commas and
    // parens) plus bare integers
    val tuple = """\(\s*'[^']*'(?:\s*,\s*(?:'[^']*'|[0-9]+))*\s*\)""".r
    val token = """'([^']*)'|([0-9]+)""".r
    tuple.findAllIn(body).map { t =>
      token.findAllMatchIn(t)
        .map(m => Option(m.group(1)).getOrElse(m.group(2))).toSeq
    }.toSet
  }

  test("sex parse VALUES equal the engine's countBiologicalSex on every noise entry") {
    val v = Materialize.termVocab()
    val want: Set[Seq[String]] = DataGen.sexNoisy.filter(Model.isPresent).flatMap { s =>
      Materialize.countBiologicalSex(s, v.sex).map { case (uri, qty) =>
        Seq(s, uri.substring(uri.lastIndexOf('/') + 1), qty.toString)
      }
    }.toSet
    assert(sqlRows("sx") == want,
      s"\nre-derive the sx VALUES by hand; engine now says:\n${want.toSeq.sortBy(_.head).mkString("\n")}")
  }

  test("body-part/life-stage parse VALUES equal the engine's addEntity on every noise pair") {
    val v = Materialize.termVocab()
    def entRows(names: Seq[String], ids: Seq[String]): Set[Seq[String]] =
      names.zip(ids).flatMap { case (n, id) =>
        if (!(Model.isPresent(n) || Model.isPresent(id))) None
        else Materialize.addEntity(n, id, "s:x", "p:x", "T", v) match {
          case Seq(link, tp, lbl) => Some(Seq(n, link.obj, lbl.obj))
          case Seq() => None
          case other => fail(s"unexpected addEntity shape for ($n,$id): $other")
        }
      }.toSet
    assert(sqlRows("bp") == entRows(DataGen.bodyPartNoisy, DataGen.bodyPartIds),
      "re-derive the bp VALUES by hand against the engine output above")
    assert(sqlRows("ls") == entRows(DataGen.lifeStageNoisy, DataGen.lifeStageIds),
      "re-derive the ls VALUES by hand against the engine output above")
  }

  test("interaction/vocab constants referenced by the oracle are unchanged") {
    DataGen.interactionTypes.foreach { case (name, id) =>
      assert(sql.contains(s"'$name'"), s"interaction $name missing from oracle")
      if (id.nonEmpty) assert(sql.contains(s"'$id'") || sql.contains(id),
        s"interaction id $id missing from oracle")
    }
    // media caption/qid formulas bake in mediaRows' shape
    assert(DataGen.mediaRows.size == 24, "mediaRows size changed: update %24 in the oracle")
  }
}
