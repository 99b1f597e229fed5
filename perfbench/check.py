"""Output checks, run outside the timed region.

* ``pipeline`` recomputes the association harmonic scores in DuckDB from
  the generated inputs (the reference semantics: 1-hop reflexive
  propagation over the tissue-filtered PPI network, per-source top-100
  harmonic folds, literature x0.2 combine, the 0.1 threshold in open mode,
  the inner dimension joins and the new-drug gate) and compares the
  associations sink row for row.  It also checks the invariants: open-mode
  harmonic > 0.1, every drug_hypothesis_disease_aes_score in (0, 1], and
  no hypothesis drug already among the disease's drugs.
* ``queries`` compares each query result with its oracle SQL twin, with
  the canonicalization of tools/check_oracle.py.
"""
import os
import sys

import duckdb

TOL = 1e-9

_JSON = {
    "evidences": "id:'VARCHAR', sourceID:'VARCHAR', disease:'STRUCT(id VARCHAR)', "
                 "target:'STRUCT(id VARCHAR)', scores:'STRUCT(association_score DOUBLE)'",
    "targets": "id:'VARCHAR', uniprot_accessions:'VARCHAR[]'",
    "interactions": "interactorA_uniprot_name:'VARCHAR', interactorB_uniprot_name:'VARCHAR'",
    "expression": "gene:'VARCHAR', tissues:'STRUCT(efo_code VARCHAR, rna STRUCT(zscore DOUBLE), "
                  "protein STRUCT(level DOUBLE))[]'",
    "drugs": "id:'VARCHAR', mechanisms_of_action:'STRUCT(target_components "
             "STRUCT(ensembl VARCHAR)[])[]'",
    "diseases": "code:'VARCHAR', path_codes:'VARCHAR[][]'",
    "aggregations": "disease_id:'VARCHAR', drug_id:'VARCHAR'",
    "whitelist": "whitelist_id:'VARCHAR', whitelist:'VARCHAR[]'",
}


def _views(con, in_dir):
    for name, cols in _JSON.items():
        path = os.path.join(in_dir, f"{name}.json")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_json('{path}', "
                        f"format='newline_delimited', columns={{{cols}}})")
    for name in ("studies", "predictions"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(in_dir, name + '.parquet')}')")


def _expected_sql(whitelist, expression):
    lut = ("SELECT target_id, neighbours FROM adj" if not expression else """
      SELECT a.target_id, list(DISTINCT a.n) AS neighbours
      FROM (SELECT target_id, unnest(neighbours) AS n FROM adj) a
      JOIN expr ta ON ta.target_id = a.target_id
      JOIN expr tb ON tb.target_id = a.n
      WHERE len(list_intersect(ta.active, tb.active)) > 0
      GROUP BY a.target_id""")
    wl = ("SELECT whitelist_id, unnest(whitelist) AS disease_id FROM whitelist" if whitelist
          else "SELECT NULL::VARCHAR AS whitelist_id, NULL::VARCHAR AS disease_id WHERE false")
    keyed = ("SELECT e.*, w.whitelist_id AS assoc_disease_id FROM evs2 e "
             "JOIN wl w USING (disease_id)" if whitelist else
             "SELECT *, disease_id AS assoc_disease_id FROM evs2")
    final = ("""SELECT a.target_id, w.whitelist_id, w.disease_id, a.evidence_count,
                       a.hg, a.hl, a.h
                FROM assoc a JOIN wl w ON w.whitelist_id = a.key
                JOIN targets t ON t.id = a.target_id
                JOIN dis ON dis.disease_id = w.disease_id""" if whitelist else
             """SELECT a.target_id, a.key AS disease_id, a.evidence_count, a.hg, a.hl, a.h
                FROM assoc a
                JOIN targets t ON t.id = a.target_id
                JOIN dis ON dis.disease_id = a.key
                WHERE a.h > 0.1
                  AND a.target_id IN (SELECT target_id FROM dft)
                  AND a.key IN (SELECT disease_id FROM aggregations)
                  AND EXISTS (SELECT 1 FROM dft WHERE dft.target_id = a.target_id
                              AND dft.drug_id NOT IN (SELECT g.drug_id FROM aggregations g
                                                      WHERE g.disease_id = a.key))""")
    return f"""
    WITH lit AS (
      SELECT id AS evs_id, target.id AS target_id, disease.id AS disease_id,
             scores.association_score AS score, 'europepmc' AS ds
      FROM evidences WHERE sourceID = 'europepmc'),
    gen AS (
      SELECT concat(p.study_id, concat_ws('_', p.chrom, CAST(p.pos AS VARCHAR), p.ref, p.alt),
                    t.d, p.gene_id) AS evs_id,
             p.gene_id AS target_id, t.d AS disease_id,
             p.y_proba_all_features AS score, 'genetics' AS ds
      FROM predictions p JOIN studies s USING (study_id), unnest(s.trait_efos) AS t(d)
      WHERE p.y_proba_all_features > 0.5),
    evs AS (SELECT * FROM lit UNION ALL SELECT * FROM gen),
    scores AS (
      SELECT evs_id,
             coalesce(first(score) FILTER (WHERE ds = 'genetics'), 0.0) AS genetics,
             coalesce(first(score) FILTER (WHERE ds = 'europepmc'), 0.0) AS europepmc
      FROM evs GROUP BY evs_id),
    evs2 AS (SELECT e.evs_id, e.target_id, e.disease_id, s.genetics, s.europepmc
             FROM evs e JOIN scores s USING (evs_id)),
    wl AS ({wl}),
    keyed AS ({keyed}),
    genes AS (SELECT unnest(uniprot_accessions) AS accession, id FROM targets),
    edges AS (SELECT interactorA_uniprot_name AS a, interactorB_uniprot_name AS b FROM interactions
              UNION SELECT interactorB_uniprot_name, interactorA_uniprot_name FROM interactions),
    adj AS (SELECT ga.id AS target_id, list(DISTINCT gb.id) AS neighbours
            FROM edges e JOIN genes ga ON e.a = ga.accession JOIN genes gb ON e.b = gb.accession
            GROUP BY ga.id),
    expr AS (SELECT gene AS target_id,
                    list_transform(list_filter(tissues, t -> t.rna.zscore > 0 OR t.protein.level > 0),
                                   t -> t.efo_code) AS active
             FROM expression),
    lut AS ({lut}),
    prop AS (SELECT p AS target_id, k.assoc_disease_id AS key, k.genetics, k.europepmc
             FROM keyed k JOIN lut l ON l.target_id = k.target_id,
                  unnest(list_distinct(list_concat(l.neighbours, [k.target_id]))) AS u(p)),
    ranked AS (SELECT *,
                 row_number() OVER (PARTITION BY target_id, key ORDER BY genetics DESC) AS rg,
                 row_number() OVER (PARTITION BY target_id, key ORDER BY europepmc DESC) AS rl
               FROM prop),
    folded AS (SELECT target_id, key, count(*) AS evidence_count,
                 sum(CASE WHEN rg <= 100 THEN genetics / (rg * rg) ELSE 0 END) AS hg,
                 sum(CASE WHEN rl <= 100 THEN europepmc / (rl * rl) ELSE 0 END) AS hl
               FROM ranked GROUP BY target_id, key),
    assoc AS (SELECT *, greatest(hg, 0.2 * hl) + least(hg, 0.2 * hl) / 4 AS h FROM folded),
    dft AS (SELECT DISTINCT u.t AS target_id, d.id AS drug_id
            FROM drugs d, unnest(list_distinct(flatten(list_transform(d.mechanisms_of_action,
                 m -> list_transform(m.target_components, c -> c.ensembl))))) AS u(t)),
    dis AS (SELECT regexp_extract(code, '[^/]*$') AS disease_id FROM diseases
            WHERE len(flatten(path_codes)) > 0
            INTERSECT SELECT unnest(flatten(path_codes)) FROM diseases)
    {final}"""


def pipeline(in_dir, out_dir):
    """Failure messages (empty = correct) and the sinks' row counts."""
    fails = []
    whitelist = os.path.exists(os.path.join(in_dir, "whitelist.json"))
    expression = os.path.exists(os.path.join(in_dir, "expression.json"))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    _views(con, in_dir)
    con.execute(f"CREATE TABLE expected AS {_expected_sql(whitelist, expression)}")
    con.execute("CREATE VIEW got AS SELECT * FROM read_parquet("
                f"'{out_dir}/associations/*.parquet')")
    keys = ["target_id", "disease_id"] + (["whitelist_id"] if whitelist else [])
    on = " AND ".join(f"g.{k} = e.{k}" for k in keys)
    n_got, n_exp = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                    for t in ("got", "expected"))
    if n_got == 0:
        fails.append("associations sink is empty")
    missing = con.execute(f"SELECT count(*) FROM expected e ANTI JOIN got g ON {on}").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM got g ANTI JOIN expected e ON {on}").fetchone()[0]
    bad = con.execute(f"""
        SELECT count(*) FROM got g JOIN expected e ON {on}
        WHERE abs(g.harmonic - e.h) > {TOL} OR abs(g.harmonic_genetics - e.hg) > {TOL}
           OR abs(g.harmonic_literature - e.hl) > {TOL}
           OR g.evidence_count <> e.evidence_count""").fetchone()[0]
    if missing or extra or bad or n_got != n_exp:
        fails.append(f"associations: {n_got} rows vs {n_exp} expected; {missing} missing, "
                     f"{extra} unexpected, {bad} with different scores")
    if not whitelist:
        low = con.execute("SELECT count(*) FROM got WHERE NOT harmonic > 0.1").fetchone()[0]
        if low:
            fails.append(f"{low} open-mode associations with harmonic <= 0.1")
    con.execute("CREATE VIEW dd AS SELECT * FROM read_json_auto("
                f"'{out_dir}/drug_disease/*.json')")
    n_dd = con.execute("SELECT count(*) FROM dd").fetchone()[0]
    out_of_range = con.execute(
        "SELECT count(*) FROM dd WHERE NOT (drug_hypothesis_disease_aes_score > 0 "
        "AND drug_hypothesis_disease_aes_score <= 1)").fetchone()[0]
    known = con.execute(
        "SELECT count(*) FROM dd JOIN aggregations g ON g.disease_id = dd.disease_id "
        "AND g.drug_id = dd.drug_hypothesis").fetchone()[0]
    if n_dd == 0:
        fails.append("drug_disease sink is empty")
    if out_of_range:
        fails.append(f"{out_of_range} drug_hypothesis_disease_aes_score outside (0, 1]")
    if known:
        fails.append(f"{known} hypotheses already in drugs_for_disease")
    return fails, {"associations_rows": n_got, "drug_disease_rows": n_dd}


def queries(sf_dir, results_dir, oracle, names, repo_root):
    """Failure message by query (empty = every result is correct)."""
    sys.path.insert(0, os.path.join(repo_root, "tools"))
    import pandas as pd
    from check_oracle import TABLES, canon
    fails = {}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    for q in names:
        try:
            got = pd.read_parquet(os.path.join(results_dir, q))
        except Exception as e:  # a query that threw leaves no result
            fails[q] = f"no result ({str(e)[:120]})"
            continue
        if len(got) == 0:
            fails[q] = "empty result"
            continue
        if q not in oracle:
            continue
        want = con.execute(oracle[q]).fetchdf()
        if sorted(got.columns.str.lower()) != sorted(want.columns.str.lower()):
            fails[q] = f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
        elif canon(got) != canon(want):
            fails[q] = f"{len(got)} rows differ from the oracle's {len(want)}"
    return fails
