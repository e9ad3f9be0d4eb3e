package graft.queries

import graft.kg.{DataGen, Model}

/** DuckDB oracles for the flagship pipeline outputs — the SQL re-derives
  * each output INDEPENDENTLY of the engine:
  *
  *  - the verbatim records are re-synthesized from the datagen closed
  *    form (generate_series + the DataGen.record(i) arithmetic, FIXTURES
  *    §3) — so the extraction front-end is verified by construction;
  *  - the TRY-db branch is re-derived end-to-end (rows, lineage,
  *    matcher, emission, inverses) with no side input at all;
  *  - the GloBI branch reuses exactly ONE engine intermediate — the
  *    matcher output side-channel (Materialized.SideDir/matched_n*) —
  *    because the scored-disambiguation matcher is separately verified
  *    (j4/j5/j6 oracles + the broadcast==distributed equality tests);
  *    everything downstream (dict build, two-tier resolution, the ~30
  *    conditional emission templates, media, inverse augmentation,
  *    set dedup) is reproduced in SQL;
  *  - canonicalization is re-derived as a recursive-CTE connected
  *    components over the matcher-implied equivalence edges.
  *
  * The noisy body-part / life-stage / sex parses are HAND-DERIVED
  * constant tables (each row worked out from the reference's regex
  * chains, globi_entity_matcher.py:34-41,109-222 — NOT generated by the
  * engine); the same strings are also golden-pinned in NormSpec.
  *
  * Scale selection: every query derives this run's corpus size as
  * COUNT(orders)/3 (the testdata sizing contract: orders = sf·1.5M,
  * docs = sf·0.5M) and filters the side-channel dumps by their n_docs
  * stamp, so dumps from other scale factors can coexist.
  */
object PipelineOracles {

  private val EMI = Model.EMI
  private val EMIBOX = Model.EMIBOX
  private val EMIUNIT = Model.EMIUNIT
  private val SOSA = Model.SOSA
  private val DCTERMS = Model.DCTERMS
  private val WD = Model.WD
  private val PROV = Model.PROV
  private val WGS84 = Model.WGS84
  private val QUDT = Model.QUDT
  private val QUDT_TRY = Model.QUDT_TRY
  private val QUDT_UNIT = Model.QUDT_UNIT
  private val RDF_TYPE = Model.RDF_TYPE
  private val RDFS_LABEL = Model.RDFS_LABEL
  private val RDFS_COMMENT = Model.RDFS_COMMENT
  private val RDF_VALUE = Model.RDF_VALUE
  private val XSD_STRING = Model.XSD_STRING
  private val XSD_DOUBLE = Model.XSD_DOUBLE
  private val XSD_INTEGER = Model.XSD_INTEGER
  private val OBO = "http://purl.obolibrary.org/obo/"

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** Inverse-relation map as VALUES rows (required parity data,
    * constants.py:45-70 — the same table the engine broadcasts).
    */
  private val invValues: String = Model.inverseRelations.toSeq.sorted
    .map { case (p, ip) => s"('$p','$ip')" }.mkString(",\n            ")

  private val nDocs = "(SELECT COUNT(*) // 3 FROM orders)"

  // ---- TRY-db: fully self-contained ------------------------------------

  val trydbTriples: String = s"""
    WITH rows1 AS (
      SELECT t,
        CASE WHEN t%6=5 THEN 'Unknown plant ' || (t%9)
             ELSE 'Taxon ' || (CASE WHEN ((t*31)%200)%13=5 AND (t*31)%200>0
                                    THEN (t*31)%200-1 ELSE (t*31)%200 END) END AS spName,
        (1000 + t%500)::VARCHAR AS spId,
        'OBS' || (t%200) AS obsId,
        t::VARCHAR AS obsDataId,
        'Dataset ' || (t%7) AS dataset,
        (t%7)::VARCHAR AS datasetId,
        'Ref ' || (t%13) AS ref,
        ['Leaf area','Plant height','','Seed mass',''][(t%5)+1] AS traitName,
        CASE WHEN t%4=0 THEN 'T' || (t%50) ELSE '' END AS traitId,
        CASE WHEN t%3=0 THEN 'Data ' || (t%40) ELSE '' END AS dataName,
        CASE WHEN t%5=0 THEN 'D' || (t%60) ELSE '' END AS dataId,
        ['12.5','3.0E+4','-7','tall','','0.25'][(t%6)+1] AS ov,
        ['g','m2','weird','','kg','g'][(t%6)+1] AS ou,
        ['gram','metre','','gram','',''][((t+1)%6)+1] AS un
      FROM (SELECT UNNEST(generate_series(0, $nDocs - 1)) AS t)),
    lin AS (
      SELECT k, 'Q' || (1000+k) AS wd,
             'Taxon ' || (CASE WHEN k%13=5 AND k>0 THEN k-1 ELSE k END) AS nm,
             CASE k%3 WHEN 0 THEN 'Plantae' WHEN 1 THEN 'Animalia' ELSE NULL END AS kingdom
      FROM (SELECT UNNEST(generate_series(0, 199)) AS k)),
    pl AS (SELECT nm, arg_max(wd, k) AS wd FROM lin WHERE kingdom = 'Plantae' GROUP BY nm),
    nk AS (SELECT nm, arg_max(wd, k) AS wd FROM lin WHERE kingdom IS NULL GROUP BY nm),
    anyn AS (SELECT DISTINCT nm FROM lin),
    merged AS (
      SELECT r.*, CASE WHEN a.nm IS NOT NULL THEN COALESCE(p.wd, x.wd) END AS wdid
      FROM rows1 r
      LEFT JOIN anyn a ON a.nm = r.spName
      LEFT JOIN pl p ON p.nm = r.spName
      LEFT JOIN nk x ON x.nm = r.spName),
    m3 AS (
      SELECT *,
        '${EMIBOX}SAMPLE-' || replace(spName, ' ', '%20') || '-' || obsId AS smp,
        '${EMIBOX}DATASET-' || replace(dataset, ' ', '%20') AS ds,
        '${EMIBOX}OBSERVATION-' || obsId AS obs,
        '${EMIBOX}ORGANISM-' || replace(spName, ' ', '%20') AS org,
        '${EMIBOX}RESULT-' || obsDataId AS res,
        (dataset <> '') AS hasDs,
        (traitName <> '') AS traitP,
        regexp_full_match(ov, '-?[0-9]+(\\.[0-9]+)?(E[+-][0-9]+)?') AS isnum,
        CASE WHEN (CASE ou WHEN 'g' THEN 'GM' WHEN 'gram' THEN 'GM' WHEN 'm2' THEN 'M2' END) IS NOT NULL
               THEN '$QUDT_UNIT' || (CASE ou WHEN 'g' THEN 'GM' WHEN 'gram' THEN 'GM' WHEN 'm2' THEN 'M2' END)
             WHEN un <> '' AND (CASE un WHEN 'g' THEN 'GM' WHEN 'gram' THEN 'GM' WHEN 'm2' THEN 'M2' END) IS NOT NULL
               THEN '$QUDT_UNIT' || (CASE un WHEN 'g' THEN 'GM' WHEN 'gram' THEN 'GM' WHEN 'm2' THEN 'M2' END)
             WHEN un <> '' THEN (CASE un WHEN 'kg' THEN '${EMIUNIT}KG' WHEN 'metre' THEN '${EMIUNIT}M' END)
             WHEN un = '' THEN (CASE ou WHEN 'kg' THEN '${EMIUNIT}KG' WHEN 'metre' THEN '${EMIUNIT}M' END)
        END AS unitUri
      FROM merged),
    base AS (
      SELECT smp AS subj, '$RDF_TYPE' AS pred, '${SOSA}Sample' AS obj, FALSE AS objIsLiteral, '' AS objDatatype FROM m3
      UNION ALL SELECT smp, '$RDFS_LABEL', spName, TRUE, '$XSD_STRING' FROM m3
      UNION ALL SELECT smp, '${SOSA}isSampleOf', org, FALSE, '' FROM m3
      UNION ALL SELECT smp, '${SOSA}isFeatureOfInterestOf', obs, FALSE, '' FROM m3
      UNION ALL SELECT smp, '${DCTERMS}isPartOf', ds, FALSE, '' FROM m3 WHERE hasDs
      UNION ALL SELECT ds, '${DCTERMS}bibliographicCitation', ref, TRUE, '$XSD_STRING' FROM m3 WHERE hasDs
      UNION ALL SELECT ds, '${DCTERMS}identifier', 'TRYdb-' || datasetId, TRUE, '$XSD_STRING' FROM m3 WHERE hasDs
      UNION ALL SELECT obs, '${SOSA}hasResult', res, FALSE, '' FROM m3 WHERE hasDs
      UNION ALL SELECT res, '$RDF_TYPE', '${EMI}Trait', FALSE, '' FROM m3 WHERE hasDs AND traitP
      UNION ALL SELECT '${EMI}Trait', '${DCTERMS}identifier', 'TRYdb-' || traitId, TRUE, '$XSD_STRING' FROM m3 WHERE hasDs AND traitP AND traitId <> ''
      UNION ALL SELECT res, '$RDF_VALUE', ov, TRUE, '$XSD_DOUBLE' FROM m3 WHERE hasDs AND traitP AND ov <> '' AND isnum
      UNION ALL SELECT res, '$RDF_VALUE', ov, TRUE, '$XSD_STRING' FROM m3 WHERE hasDs AND traitP AND ov <> '' AND NOT isnum
      UNION ALL SELECT res, '$RDF_TYPE', '${EMI}NonTrait', FALSE, '' FROM m3 WHERE hasDs AND NOT traitP
      UNION ALL SELECT res, '$RDF_VALUE', ov, TRUE, '$XSD_STRING' FROM m3 WHERE hasDs AND NOT traitP AND ov <> ''
      UNION ALL SELECT res, '$RDFS_LABEL', dataName, TRUE, '$XSD_STRING' FROM m3 WHERE hasDs AND dataName <> ''
      UNION ALL SELECT res, '${DCTERMS}identifier', 'TRYdb-' || dataId, TRUE, '$XSD_STRING' FROM m3 WHERE hasDs AND dataId <> ''
      UNION ALL SELECT res, '${QUDT_TRY}hasUnit', unitUri, FALSE, '' FROM m3 WHERE ou <> '' AND unitUri IS NOT NULL
      UNION ALL SELECT res, '$RDFS_COMMENT', trim(ou), TRUE, '$XSD_STRING' FROM m3 WHERE ou <> ''
      UNION ALL SELECT org, '${EMI}inTaxon', '$WD' || wdid, FALSE, '' FROM m3 WHERE wdid IS NOT NULL
      UNION ALL SELECT org, '${DCTERMS}identifier', 'TRYdb-' || spId, TRUE, '$XSD_STRING' FROM m3 WHERE spId IS NOT NULL AND spId <> ''),
    inv(p, ip) AS (VALUES $invValues),
    invs AS (
      SELECT b.obj AS subj, i.ip AS pred, b.subj AS obj,
             FALSE AS objIsLiteral, '' AS objDatatype
      FROM base b JOIN inv i ON b.pred = i.p WHERE NOT b.objIsLiteral)
    SELECT DISTINCT subj, pred, obj, objIsLiteral, objDatatype
    FROM (SELECT * FROM base UNION ALL SELECT * FROM invs)"""

  // ---- GloBI pipeline triples ------------------------------------------

  private val bpList = sqlList(DataGen.bodyPartNoisy)
  private val lsList = sqlList(DataGen.lifeStageNoisy)
  private val sexList = sqlList(DataGen.sexNoisy)

  private def taxonIdSql(k: String, v: String): String = s"""
      CASE ($v)%7
        WHEN 0 THEN 'EOL:' || ($k*100+1)
        WHEN 1 THEN 'GBIF:' || ($k*100+2)
        WHEN 2 THEN ''
        WHEN 3 THEN 'UNKNOWN:' || $k
        WHEN 4 THEN '\\N'
        WHEN 5 THEN 'https://www.wikidata.org/entity/Q' || (1000+$k)
        ELSE 'ĜLOBI:' || $k END"""

  val pipelineTriples: String = s"""
    WITH m0 AS (
      SELECT * FROM '${Materialized.SideDir}/matched_n*/*.parquet'
      WHERE n_docs = $nDocs),
    mc AS (
      SELECT replace(replace(TaxonId,'Wikidata:',''),'"','') AS tid,
             replace(replace(TaxonName,'Wikidata:',''),'"','') AS tname,
             replace(replace(Mapped_ID_WD,'Wikidata:',''),'"','') AS wd,
             replace(replace(Mapped_Value,'Wikidata:',''),'"','') AS mv,
             rowIdx
      FROM m0),
    mf AS (SELECT * FROM mc WHERE wd IS NOT NULL AND wd <> ''),
    di AS (SELECT tid AS key, arg_max(struct_pack(w := wd, m := mv), rowIdx) AS v
           FROM mf WHERE tid IS NOT NULL AND tid <> '' GROUP BY tid),
    dn AS (SELECT tname AS key, arg_max(struct_pack(w := wd, m := mv), rowIdx) AS v
           FROM mf WHERE tname IS NOT NULL AND tname <> '' GROUP BY tname),
    k1 AS (
      SELECT i, ks, CASE WHEN ktr = ks THEN (ks+1)%200 ELSE ktr END AS kt
      FROM (SELECT i, CASE WHEN i%5=0 THEN 0 ELSE (i*7919)%200 END AS ks,
                   (i*104729 + 1) % 200 AS ktr
            FROM (SELECT UNNEST(generate_series(0, $nDocs - 1)) AS i))),
    k2 AS (SELECT *,
      'Taxon ' || (CASE WHEN ks%13=5 AND ks>0 THEN ks-1 ELSE ks END) AS sn0,
      'Taxon ' || (CASE WHEN kt%13=5 AND kt>0 THEN kt-1 ELSE kt END) AS tn0
      FROM k1),
    recs AS (SELECT i, ks, kt,
      ${taxonIdSql("ks", "i")} AS sid,
      CASE (i%11) WHEN 0 THEN upper(sn0) WHEN 1 THEN sn0 || ' ' ELSE sn0 END AS snr,
      ${taxonIdSql("kt", "i+2")} AS tidc,
      CASE ((i+5)%11) WHEN 0 THEN upper(tn0) WHEN 1 THEN tn0 || ' ' ELSE tn0 END AS tnr,
      ['eats','pollinates','parasiteOf','visitsFlowersOf','preysOn'][(i%5)+1] AS itn,
      CASE WHEN i%6=5 THEN ''
           ELSE ['${OBO}RO_0002470','${OBO}RO_0002455','${OBO}RO_0002444','${OBO}RO_0002622',''][(i%5)+1] END AS iti,
      CASE WHEN i%3=0 THEN 'Locality ' || (i%50) ELSE '' END AS loc,
      CASE WHEN i%7=0 THEN '10.5555/ref.' || (i%100) ELSE '' END AS rdoi,
      CASE WHEN i%8=0 THEN '10.5555/src.' || (i%100) ELSE '' END AS sdoi,
      CASE WHEN i%3=1 THEN ((i%180)-90) || '.' || (i%10) ELSE '' END AS lat,
      CASE WHEN i%3=1 THEN ((i%360)-180) || '.' || (i%10) ELSE '' END AS lon,
      $bpList[(i%12)+1] AS sbp,
      $bpList[((i+4)%12)+1] AS tbp,
      $lsList[((i+1)%8)+1] AS sls,
      $lsList[((i+2)%8)+1] AS tls,
      $sexList[(i%12)+1] AS ssex,
      $sexList[((i+6)%12)+1] AS tsex
      FROM k2),
    res0 AS (
      SELECT r.*,
        CASE WHEN di_s.key IS NOT NULL THEN di_s.v.w ELSE dn_s.v.w END AS swd0,
        CASE WHEN di_s.key IS NOT NULL THEN di_s.v.m ELSE dn_s.v.m END AS smv,
        CASE WHEN di_t.key IS NOT NULL THEN di_t.v.w ELSE dn_t.v.w END AS twd0,
        CASE WHEN di_t.key IS NOT NULL THEN di_t.v.m ELSE dn_t.v.m END AS tmv
      FROM recs r
      LEFT JOIN di di_s ON di_s.key = r.sid
      LEFT JOIN dn dn_s ON dn_s.key = r.snr
      LEFT JOIN di di_t ON di_t.key = r.tidc
      LEFT JOIN dn dn_t ON dn_t.key = r.tnr),
    rr AS (
      SELECT *,
        CASE WHEN snr <> '' THEN snr ELSE smv END AS sname,
        CASE WHEN tnr <> '' THEN tnr ELSE tmv END AS tname,
        '${EMIBOX}inRec' || i AS rec,
        '${EMIBOX}SAMPLE-' || swd0 || '-inRec' || i AS srcu,
        '${EMIBOX}SAMPLE-' || twd0 || '-inRec' || i AS tgtu
      FROM res0
      WHERE swd0 IS NOT NULL AND twd0 IS NOT NULL AND swd0 <> twd0),
    med AS (SELECT i,
        '${EMIBOX}inRec' || i AS rec,
        '${EMIBOX}MEDIA-' || (i%24) AS mr,
        ((i%24)*3) % 200 AS mk,
        (i%24) AS mm
      FROM recs WHERE i%4=0),
    med2 AS (SELECT *,
        'Q' || (1000+mk) AS mqid,
        'Image ' || mm || ' of Taxon ' ||
          (CASE WHEN mk%13=5 AND mk>0 THEN mk-1 ELSE mk END) AS cap
      FROM med),
    bp(name, uri, lbl) AS (VALUES
      ('leaf','${OBO}PO_0025034','leaf'),
      ('(roots)','${OBO}PO_0009046','(roots)'),
      ('maybe adult legs','${OBO}UBERON_0000978','leg'),
      ('bark','${EMIBOX}bark','bark'),
      ('fruits','${OBO}PO_0009001','fruit'),
      ('LEAF','${OBO}PO_0025034','leaf'),
      ('tortere wing','${OBO}UBERON_0000023','wing')),
    ls(name, uri, lbl) AS (VALUES
      ('adult','${OBO}UBERON_0007023','adult'),
      ('larvae','${OBO}UBERON_0000069','larvae'),
      ('juvenile','${EMIBOX}juvenile','juvenile'),
      ('egg','${OBO}UBERON_0007379','egg'),
      ('seedlings','${EMIBOX}seedling','seedling'),
      ('juvenil pupa','${OBO}UBERON_0000070','pupa')),
    sx(s, local, qty) AS (VALUES
      ('male','PATO_0000384',1),
      ('female','PATO_0000383',1),
      ('2 females and 1 male','PATO_0000383',2),
      ('2 females and 1 male','PATO_0000384',1),
      ('3 males, 2 females','PATO_0000384',3),
      ('3 males, 2 females','PATO_0000383',2),
      ('maybe female','PATO_0000383',1),
      ('unknown','PATO_0001827',1),
      ('hermaphrodites','PATO_0001340',1),
      ('m&f','PATO_0001827',2),
      ('females 2','PATO_0000383',2),
      ('1 male and females 2','PATO_0000384',1),
      ('1 male and females 2','PATO_0000383',2),
      ('male or female or unknown','PATO_0001827',1)),
    base AS (
      SELECT rec AS subj, '$RDF_TYPE' AS pred, '${EMI}Interaction' AS obj, FALSE AS objIsLiteral, '' AS objDatatype FROM rr
      UNION ALL SELECT rec, '${EMI}hasSource', srcu, FALSE, '' FROM rr
      UNION ALL SELECT rec, '${EMI}hasTarget', tgtu, FALSE, '' FROM rr
      UNION ALL SELECT rec, '${EMI}isClassifiedWith', iti, FALSE, '' FROM rr WHERE itn <> '' AND iti <> ''
      UNION ALL SELECT iti, '$RDF_TYPE', '${EMI}InteractionType', FALSE, '' FROM rr WHERE itn <> '' AND iti <> ''
      UNION ALL SELECT iti, '$RDFS_LABEL', itn, TRUE, '$XSD_STRING' FROM rr WHERE itn <> '' AND iti <> ''
      UNION ALL SELECT rec, '${EMI}isClassifiedWith', '$EMIBOX' || itn, FALSE, '' FROM rr WHERE itn <> '' AND iti = ''
      UNION ALL SELECT '$EMIBOX' || itn, '$RDF_TYPE', '${EMI}InteractionType', FALSE, '' FROM rr WHERE itn <> '' AND iti = ''
      UNION ALL SELECT rec, '${PROV}atLocation', loc, TRUE, '$XSD_STRING' FROM rr WHERE loc <> ''
      UNION ALL SELECT rec, '${DCTERMS}bibliographicCitation', rdoi, TRUE, '$XSD_STRING' FROM rr WHERE rdoi <> ''
      UNION ALL SELECT rec, '${DCTERMS}bibliographicCitation', sdoi, TRUE, '$XSD_STRING' FROM rr WHERE sdoi <> ''
      UNION ALL SELECT rec, '${WGS84}lat', lat, TRUE, '$XSD_STRING' FROM rr WHERE lat <> ''
      UNION ALL SELECT rec, '${WGS84}long', lon, TRUE, '$XSD_STRING' FROM rr WHERE lon <> ''
      UNION ALL SELECT srcu, '$RDF_TYPE', '${SOSA}Sample', FALSE, '' FROM rr WHERE sname <> ''
      UNION ALL SELECT srcu, '$RDFS_LABEL', sname, TRUE, '$XSD_STRING' FROM rr WHERE sname <> ''
      UNION ALL SELECT srcu, '${SOSA}isSampleOf', '${EMIBOX}ORGANISM-' || replace(sname,' ','%20'), FALSE, '' FROM rr WHERE sname <> ''
      UNION ALL SELECT srcu, '${EMI}inTaxon', '$WD' || swd0, FALSE, '' FROM rr
      UNION ALL SELECT tgtu, '$RDF_TYPE', '${SOSA}Sample', FALSE, '' FROM rr WHERE tname <> ''
      UNION ALL SELECT tgtu, '$RDFS_LABEL', tname, TRUE, '$XSD_STRING' FROM rr WHERE tname <> ''
      UNION ALL SELECT tgtu, '${SOSA}isSampleOf', '${EMIBOX}ORGANISM-' || replace(tname,' ','%20'), FALSE, '' FROM rr WHERE tname <> ''
      UNION ALL SELECT tgtu, '${EMI}inTaxon', '$WD' || twd0, FALSE, '' FROM rr
      UNION ALL SELECT srcu, '${EMI}hasAnatomicalEntity', bp.uri, FALSE, '' FROM rr JOIN bp ON bp.name = rr.sbp
      UNION ALL SELECT bp.uri, '$RDF_TYPE', '${EMI}AnatomicalEntity', FALSE, '' FROM rr JOIN bp ON bp.name = rr.sbp
      UNION ALL SELECT bp.uri, '$RDFS_LABEL', bp.lbl, TRUE, '$XSD_STRING' FROM rr JOIN bp ON bp.name = rr.sbp
      UNION ALL SELECT tgtu, '${EMI}hasAnatomicalEntity', bp.uri, FALSE, '' FROM rr JOIN bp ON bp.name = rr.tbp
      UNION ALL SELECT bp.uri, '$RDF_TYPE', '${EMI}AnatomicalEntity', FALSE, '' FROM rr JOIN bp ON bp.name = rr.tbp
      UNION ALL SELECT bp.uri, '$RDFS_LABEL', bp.lbl, TRUE, '$XSD_STRING' FROM rr JOIN bp ON bp.name = rr.tbp
      UNION ALL SELECT srcu, '${EMI}hasDevelopmentalStage', ls.uri, FALSE, '' FROM rr JOIN ls ON ls.name = rr.sls
      UNION ALL SELECT ls.uri, '$RDF_TYPE', '${EMI}DevelopmentalStage', FALSE, '' FROM rr JOIN ls ON ls.name = rr.sls
      UNION ALL SELECT ls.uri, '$RDFS_LABEL', ls.lbl, TRUE, '$XSD_STRING' FROM rr JOIN ls ON ls.name = rr.sls
      UNION ALL SELECT tgtu, '${EMI}hasDevelopmentalStage', ls.uri, FALSE, '' FROM rr JOIN ls ON ls.name = rr.tls
      UNION ALL SELECT ls.uri, '$RDF_TYPE', '${EMI}DevelopmentalStage', FALSE, '' FROM rr JOIN ls ON ls.name = rr.tls
      UNION ALL SELECT ls.uri, '$RDFS_LABEL', ls.lbl, TRUE, '$XSD_STRING' FROM rr JOIN ls ON ls.name = rr.tls
      UNION ALL SELECT srcu, '${EMI}hasSex', '${EMIBOX}SEX-' || i || '-src-' || sx.local, FALSE, '' FROM rr JOIN sx ON sx.s = rr.ssex
      UNION ALL SELECT '${EMIBOX}SEX-' || i || '-src-' || sx.local, '${QUDT}quantityKind', '$OBO' || sx.local, FALSE, '' FROM rr JOIN sx ON sx.s = rr.ssex
      UNION ALL SELECT '${EMIBOX}SEX-' || i || '-src-' || sx.local, '${QUDT}numericValue', sx.qty::VARCHAR, TRUE, '$XSD_INTEGER' FROM rr JOIN sx ON sx.s = rr.ssex
      UNION ALL SELECT '$OBO' || sx.local, '$RDF_TYPE', '${EMI}BiologicalSex', FALSE, '' FROM rr JOIN sx ON sx.s = rr.ssex
      UNION ALL SELECT tgtu, '${EMI}hasSex', '${EMIBOX}SEX-' || i || '-tgt-' || sx.local, FALSE, '' FROM rr JOIN sx ON sx.s = rr.tsex
      UNION ALL SELECT '${EMIBOX}SEX-' || i || '-tgt-' || sx.local, '${QUDT}quantityKind', '$OBO' || sx.local, FALSE, '' FROM rr JOIN sx ON sx.s = rr.tsex
      UNION ALL SELECT '${EMIBOX}SEX-' || i || '-tgt-' || sx.local, '${QUDT}numericValue', sx.qty::VARCHAR, TRUE, '$XSD_INTEGER' FROM rr JOIN sx ON sx.s = rr.tsex
      UNION ALL SELECT '$OBO' || sx.local, '$RDF_TYPE', '${EMI}BiologicalSex', FALSE, '' FROM rr JOIN sx ON sx.s = rr.tsex
      UNION ALL SELECT rec, '${EMI}hasMediaEvidence', mr, FALSE, '' FROM med2
      UNION ALL SELECT mr, '$RDF_TYPE', '${EMI}MediaObject', FALSE, '' FROM med2
      UNION ALL SELECT mr, '${EMI}depicts', '$WD' || mqid, FALSE, '' FROM med2
      UNION ALL SELECT mr, '$RDFS_LABEL', cap, TRUE, '$XSD_STRING' FROM med2),
    inv(p, ip) AS (VALUES $invValues),
    invs AS (
      SELECT b.obj AS subj, i.ip AS pred, b.subj AS obj,
             FALSE AS objIsLiteral, '' AS objDatatype
      FROM base b JOIN inv i ON b.pred = i.p WHERE NOT b.objIsLiteral)
    SELECT DISTINCT subj, pred, obj, objIsLiteral, objDatatype
    FROM (SELECT * FROM base UNION ALL SELECT * FROM invs)"""

  // ---- canonicalization: recursive-CTE connected components -------------

  val pipelineCanonical: String = s"""
    WITH RECURSIVE m0 AS (
      SELECT * FROM '${Materialized.SideDir}/matched_n*/*.parquet'
      WHERE n_docs = $nDocs),
    named AS (
      SELECT DISTINCT trim(TaxonName) AS name,
             replace(Mapped_ID_WD, 'Wikidata:', '') AS wd
      FROM m0
      WHERE Mapped_ID_WD IS NOT NULL AND Mapped_ID_WD <> ''
        AND TaxonName IS NOT NULL AND trim(TaxonName) <> ''),
    e AS (
      SELECT DISTINCT a.wd AS src, b.wd AS dst
      FROM named a JOIN named b ON a.name = b.name AND a.wd < b.wd),
    sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
    nodes AS (SELECT DISTINCT u AS node FROM sym),
    reach(node, comp) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.node)
    SELECT node, MIN(comp) AS component FROM reach GROUP BY node ORDER BY node"""

  val oracle: Map[String, String] = Map(
    "kg_trydb_triples" -> trydbTriples,
    "kg_pipeline_triples" -> pipelineTriples,
    "kg_pipeline_canonical" -> pipelineCanonical)
}
