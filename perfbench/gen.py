"""Seeded generators for the benchmark's inputs.

Two families, both written with python3 + numpy + pyarrow only:

* ``pipeline_inputs`` writes the twelve reference-shaped inputs that
  ``graft.RunPipeline`` reads (field names from ``graft.schema.Schemas``,
  shapes from FIXTURES.md section B).  Every edge case FIXTURES.md lists is
  present: non-europepmc evidence lines, L2G predictions at or below 0.5,
  reciprocal duplicate PPI edges, multi-accession genes, drugs without
  adverse events, aggregation rows whose drug is unknown, tissues failing
  the activity filter and targets absent from the network.
* ``mix_tables`` writes TPC-H-ish star-schema tables with the same names,
  column names and parquet types as the fixture tables the registered
  queries read (FIXTURES.md section A), at a chosen scale.

The same (shape, seed) always yields byte-identical files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Workload shapes.  `hub_frac` of edge endpoints land on `hub_share` of the
# targets; `lit_share` of evidence lines are europepmc (the rest are dropped
# by the loader's source filter); `whitelists` x `members` diseases form the
# whitelist input (0 = open mode).
SHAPES = {
    "open_dense": dict(
        targets=1500, diseases=250, drugs=400, evidence_lines=15000,
        lit_share=0.8, edges=6000, hub_share=0.01, hub_frac=0.10,
        studies=150, predictions=6000, whitelists=0, members=0),
    "whitelist_ingest": dict(
        targets=1500, diseases=1000, drugs=400, evidence_lines=100000,
        lit_share=0.15, edges=1200, hub_share=0.0, hub_frac=0.0,
        studies=150, predictions=6000, whitelists=10, members=3),
}

OTHER_SOURCES = ["chembl", "eva", "uniprot", "gene2phenotype", "reactome",
                 "slapenrich", "phenodigm", "cancer_gene_census"]


def _tid(i):
    return f"ENSG{i:011d}"


def _did(i):
    return f"EFO_{i:07d}"


def _drug(i):
    return f"CHEMBL{100000 + i}"


def _write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def pipeline_inputs(out, workload, seed, scale=1.0):
    """Write the pipeline inputs for `workload` under `out`, with every row
    count multiplied by `scale`; return the generator properties and the
    per-input row counts."""
    p = {k: (max(1, int(v * scale)) if isinstance(v, int) and k not in ("whitelists", "members") else v)
         for k, v in SHAPES[workload].items()}
    rng = np.random.default_rng([seed, 7 if workload == "open_dense" else 11])
    os.makedirs(out, exist_ok=True)
    T, D, R = p["targets"], p["diseases"], p["drugs"]
    rows = {}

    # targets: ~15% multi-accession genes (explode fan-out in genesLut)
    n_acc = np.where(rng.random(T) < 0.15, rng.integers(2, 4, T), 1)
    acc_owner = np.repeat(np.arange(T), n_acc)
    accessions = [f"P{i:06d}" for i in range(len(acc_owner))]
    first_acc = np.concatenate([[0], np.cumsum(n_acc)[:-1]])
    lines = []
    for t in range(T):
        accs = accessions[first_acc[t]:first_acc[t] + n_acc[t]]
        go = [{"id": f"GO:{int(g):07d}", "value": {"term": f"term {int(g)}"}}
              for g in rng.integers(0, 500, int(rng.integers(0, 4)))]
        lines.append(json.dumps({
            "id": _tid(t), "approved_symbol": f"SYM{t}", "biotype": "protein_coding",
            "hgnc_id": f"HGNC:{t}", "uniprot_accessions": accs, "go": go}))
    _write_lines(f"{out}/targets.json", lines)
    rows["targets"] = T

    # diseases: a 4-ary ontology; every disease is on its own path
    parent = np.concatenate([[-1], rng.integers(0, np.maximum(1, np.arange(1, D) // 3 + 1))])
    paths = []
    for d in range(D):
        path, x = [], d
        while x >= 0:
            path.append(_did(x))
            x = parent[x] if x > 0 else -1
        paths.append(path[::-1])
    lines = [json.dumps({
        "code": f"http://www.ebi.ac.uk/efo/{_did(d)}", "label": f"disease {d}",
        "path_codes": [paths[d]], "phenotypes": [],
        "therapeutic_codes": paths[d][1:2] or paths[d][:1]}) for d in range(D)]
    _write_lines(f"{out}/diseases.json", lines)
    rows["diseases"] = D

    # drugs: ~10% without any mechanism of action (no target bundle)
    lines = []
    for r in range(R):
        moas = []
        if rng.random() >= 0.10:
            for _ in range(int(rng.integers(1, 3))):
                comps = rng.integers(0, T, int(rng.integers(1, 4)))
                moas.append({"target_components": [{"ensembl": _tid(int(c))} for c in comps]})
        inds = [{"efo_id": _did(int(d))} for d in rng.integers(0, D, int(rng.integers(0, 4)))]
        lines.append(json.dumps({
            "id": _drug(r), "type": "Small molecule", "pref_name": f"DRUG {r}",
            "max_clinical_trial_phase": int(rng.integers(0, 5)),
            "number_of_mechanisms_of_action": len(moas),
            "indications": inds, "mechanisms_of_action": moas}))
    _write_lines(f"{out}/drugs.json", lines)
    rows["drugs"] = R

    # FAERS by drug: ~25% of drugs have no adverse events at all
    events = [f"adverse event {i}" for i in range(60)]
    lines = []
    for r in range(R):
        if rng.random() < 0.25:
            continue
        for e in rng.choice(len(events), int(rng.integers(1, 7)), replace=False):
            lines.append(json.dumps({
                "chembl_id": _drug(r), "event": events[e],
                "count": int(rng.integers(1, 500)),
                "llr": round(float(rng.random() * 50), 4),
                "critval": round(float(rng.random() * 10), 4)}))
    _write_lines(f"{out}/faers_by_drug.json", lines)
    rows["faers_by_drug"] = len(lines)

    lines = []
    for t in range(T):
        if rng.random() < 0.5:
            continue
        for e in rng.choice(len(events), int(rng.integers(1, 6)), replace=False):
            lines.append(json.dumps({
                "target_id": _tid(t), "event": events[e],
                "report_count": int(rng.integers(1, 500)),
                "llr": round(float(rng.random() * 50), 4),
                "critval": round(float(rng.random() * 10), 4)}))
    _write_lines(f"{out}/faers_by_target.json", lines)
    rows["faers_by_target"] = len(lines)

    # aggregations: ~5% of rows name a drug that is not in drugs.json
    lines = []
    for d in range(D):
        if rng.random() < 0.15:
            continue
        for _ in range(int(rng.integers(1, 4))):
            drug = (f"CHEMBL_UNKNOWN{int(rng.integers(0, 1000))}" if rng.random() < 0.05
                    else _drug(int(rng.integers(0, R))))
            lines.append(json.dumps({
                "disease_id": _did(d), "drug_id": drug,
                "associated_diseases": [_did(int(x)) for x in rng.integers(0, D, 2)],
                "associated_targets": [_tid(int(x)) for x in rng.integers(0, T, 2)]}))
    _write_lines(f"{out}/aggregations.json", lines)
    rows["aggregations"] = len(lines)

    # PPI edges between accessions: hub endpoints, ~3% unknown accessions,
    # ~5% reciprocal duplicates; targets beyond `in_net` never interact
    E = p["edges"]
    in_net = int(T * 0.9)
    n_hub = max(1, int(in_net * p["hub_share"]))

    def endpoints(n):
        t = rng.integers(0, in_net, n)
        hub = rng.random(n) < p["hub_frac"]
        t[hub] = rng.integers(0, n_hub, int(hub.sum()))
        a = first_acc[t] + rng.integers(0, 1 << 30, n) % n_acc[t]
        names = [accessions[i] for i in a]
        for i in np.nonzero(rng.random(n) < 0.03)[0]:
            names[i] = f"Q{int(rng.integers(0, 10**6)):06d}"
        return names

    A, B = endpoints(E), endpoints(E)
    dup = np.nonzero(rng.random(E) < 0.05)[0]
    pairs = list(zip(A, B)) + [(B[i], A[i]) for i in dup]
    lines = [json.dumps({
        "interactorA_uniprot_name": a, "interactorB_uniprot_name": b,
        "mi_score": round(float(s), 3), "source_databases": ["intact"]})
        for (a, b), s in zip(pairs, rng.random(len(pairs)))]
    _write_lines(f"{out}/interactions.json", lines)
    rows["interactions"] = len(lines)

    # expression: 10% of targets have no record (dropped by the tissue
    # filter's inner joins); tissues fail `zscore > 0 or level > 0` ~30%
    lines = []
    for t in range(T):
        if rng.random() < 0.10:
            continue
        k = int(rng.integers(3, 9))
        tissues = [{"efo_code": f"UBERON_{int(u):07d}",
                    "rna": {"zscore": round(float(z), 3)},
                    "protein": {"level": float(lv)}}
                   for u, z, lv in zip(rng.choice(15, k, replace=False),
                                       rng.normal(0.3, 1.0, k),
                                       rng.choice([0, 0, 0, 1, 2, 3], k))]
        lines.append(json.dumps({"gene": _tid(t), "tissues": tissues}))
    _write_lines(f"{out}/expression.json", lines)
    rows["expression"] = len(lines)

    # evidences: `lit_share` europepmc lines, the rest other sources; each
    # carries an unused payload like real evidence dumps do
    n = p["evidence_lines"]
    src = np.where(rng.random(n) < p["lit_share"], -1, rng.integers(0, len(OTHER_SOURCES), n))
    tgt = rng.integers(0, T, n)
    dis = rng.integers(0, D, n)
    score = np.round(rng.random(n), 6)
    pmid = rng.integers(10**6, 4 * 10**7, n)
    with open(f"{out}/evidences.json", "w") as f:
        for i in range(n):
            s = "europepmc" if src[i] < 0 else OTHER_SOURCES[src[i]]
            f.write(
                f'{{"id":"ev{i:09d}","sourceID":"{s}",'
                f'"disease":{{"id":"{_did(dis[i])}"}},"target":{{"id":"{_tid(tgt[i])}"}},'
                f'"scores":{{"association_score":{score[i]!r}}},'
                f'"literature":{{"references":[{{"lit_id":"http://europepmc.org/abstract/MED/{pmid[i]}"}}]}},'
                f'"unique_association_fields":{{"publication_id":"{pmid[i]}","target":"{_tid(tgt[i])}"}}}}\n')
    rows["evidences"] = n
    rows["evidences_literature"] = int((src < 0).sum())

    # GWAS studies + L2G predictions (parquet); about half the predictions
    # are at or below the 0.5 cut, and (study, variant, gene) is unique
    S = p["studies"]
    pq.write_table(pa.table({
        "study_id": [f"GCST{s:06d}" for s in range(S)],
        "trait_reported": [f"trait {s}" for s in range(S)],
        "trait_efos": [[_did(int(d)) for d in rng.choice(D, int(rng.integers(1, 3)), replace=False)]
                       for s in range(S)],
        "trait_category": ["measurement"] * S,
    }), f"{out}/studies.parquet")
    P = p["predictions"]
    pq.write_table(pa.table({
        "study_id": [f"GCST{int(s):06d}" for s in rng.integers(0, S, P)],
        "chrom": [str(int(c)) for c in rng.integers(1, 23, P)],
        "pos": pa.array(np.arange(P, dtype=np.int64) * 37 + 1000),
        "ref": ["A"] * P,
        "alt": ["G"] * P,
        "y_proba_all_features": np.round(rng.random(P), 6),
        "gene_id": [_tid(int(t)) for t in rng.integers(0, T, P)],
    }), f"{out}/predictions.parquet")
    rows["studies"], rows["predictions"] = S, P

    if p["whitelists"]:
        members = rng.choice(D, p["whitelists"] * p["members"], replace=False)
        lines = [json.dumps({
            "whitelist_id": f"WL{w:03d}",
            "whitelist": [_did(int(d)) for d in members[w * p["members"]:(w + 1) * p["members"]]]})
            for w in range(p["whitelists"])]
        _write_lines(f"{out}/whitelist.json", lines)
        rows["whitelist"] = len(lines)

    mb = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)) / 2**20
    return {"rows": rows, "input_mb": round(mb, 3), "shape": p}


# ---------------------------------------------------------------------------
# Star-schema tables for the registered queries

_WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
          "value", "data", "small", "join", "filter", "big", "group", "hash",
          "customer", "sort", "order", "slow", "line", "part", "fast", "row",
          "the", "agg", "key", "query", "a", "scan", "batch"]


def _ts(rng, start, days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days * 86_400_000_000, n), pa.timestamp("us"))


def _day(rng, start, days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days, n) * 86_400_000_000, pa.timestamp("us"))


def mix_tables(out, sf, seed):
    """Write region..embeddings at scale `sf` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng([seed, 42])
    os.makedirs(out, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    n_li, n_o = int(6_000_000 * sf), int(1_500_000 * sf)
    n_p, n_s, n_c = int(200_000 * sf), max(10, int(10_000 * sf)), int(150_000 * sf)
    n_ev, n_doc, n_vec = int(1_000_000 * sf), max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), i32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_c), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c)})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), i32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_s), 2)})
    sizes = ["small", "medium", "large", "tiny", "huge"]
    nouns = ["ring", "bolt", "gear", "pipe", "valve", "plate"]
    sz = rng.integers(0, len(sizes), n_p)
    write("part", {
        "p_partkey": pa.array(np.arange(n_p), i64),
        "p_name": [f"{sizes[a]} {nouns[b]}" for a, b in zip(sz, rng.integers(0, len(nouns), n_p))],
        "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_p)],
        "p_type": [sizes[a].upper() for a in sz],
        "p_size": pa.array(rng.integers(1, 51, n_p), i32),
        "p_retailprice": np.round(rng.uniform(900, 2100, n_p), 2)})
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_o), i64),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(800, 500_000, n_o), 2),
        "o_orderdate": _day(rng, "1995-01-01", 2404, n_o),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_o, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_p, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _day(rng, "1995-01-02", 2498, n_li)})
    n_users = max(15, n_ev // 66)
    write("events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts(rng, "2024-01-01", 30, n_ev),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: bag-of-words text, 5% near duplicates (copy + " dup")
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 100)))))
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(["en", "en", "zh", "es", "fr", "de", "en"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # embeddings: 64-d unit vectors around 10 label centroids
    labels = rng.integers(0, 10, n_vec)
    cents = rng.normal(0, 1, (10, 64))
    v = cents[labels] + rng.normal(0, 1.5, (n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    mb = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)) / 2**20
    return {"rows": {"lineitem": n_li, "orders": n_o, "events": n_ev,
                     "documents": n_doc, "embeddings": n_vec},
            "input_mb": round(mb, 3), "sf": sf}
