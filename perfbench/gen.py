"""Seeded input generators. The same seed writes byte-identical files.

Three generators, one per input family the workloads read:

* ``pubmed_pages`` — NDJSON pages of PubMed-shaped article records that
  the benchmark's fetcher serves to ``pipeline.run_pipeline``;
* ``star_fixture`` — the fixture tables the registry queries read
  (TPC-H-ish star schema, ``events``, ``documents``, ``embeddings``),
  in the catalog's schemas, foreign keys intact by construction;
* ``event_backlog`` — a directory of ``events``-schema parquet files,
  one per streaming micro-batch, with Zipf users, out-of-order arrivals
  inside the watermark and duplicated ``event_id`` values.

Each returns a dict of input sizes that the result records.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- pubmed pages ----------------------------------------------------------

STOP = (
    "the of and in to a with for was were is are by on that this these from at "
    "as be been than which or an not we our it its after between during into "
    "both also all but more most no only other such their there when while"
).split()

# content words, many in inflected forms so lemmatization is exercised
CONTENT = (
    "patients patient studies study cells cell women woman men man children "
    "child mice mouse treatment treatments therapy therapies analysis analyses "
    "analyzed analyzing results resulted showed showing increased increasing "
    "decreased reduced reduction levels level expression expressed gene genes "
    "protein proteins tumor tumors cancer cancers breast lung liver kidney "
    "disease diseases clinical trial trials outcome outcomes risk risks factors "
    "factor associated association associations mortality survival cohort "
    "cohorts samples sample measured measurements response responses dose doses "
    "receptor receptors pathway pathways signaling activity activities model "
    "models observed observations infection infections virus viruses bacteria "
    "antibodies antibody blood plasma serum tissue tissues surgery surgeries "
    "hospital hospitals care diagnosis diagnoses symptoms symptom injury injuries "
    "inflammation chronic acute years months weeks group groups control controls "
    "randomized significant significantly higher lower compared comparing "
    "publications publication review reviews different methods method data "
    "evaluated evaluating identified identifying performed using used developed "
    "effects effect mechanisms mechanism mutations mutation variants variant"
).split()

MALFORMED_SHARE = 0.01
NO_ABSTRACT_SHARE = 0.20


def _abstract(rng: np.random.Generator) -> str:
    n = int(rng.integers(120, 301))
    is_stop = rng.random(n) < 0.4
    stop_idx = rng.integers(0, len(STOP), n)
    cont_idx = rng.integers(0, len(CONTENT), n)
    words = [STOP[s] if st else CONTENT[c] for st, s, c in zip(is_stop, stop_idx, cont_idx)]
    out, start = [], True
    marks = rng.random(n)
    nums = rng.integers(1, 1000, n)
    for i, w in enumerate(words):
        if start:
            w = w.capitalize()
            start = False
        elif marks[i] < 0.03:
            w = w.upper()
        if marks[i] > 0.97:
            w = f"{w} ({nums[i]}%)"
        elif marks[i] > 0.94:
            w = f"{w} n={nums[i]}"
        if marks[i] < 0.08:
            w += "."
            start = True
        elif marks[i] < 0.15:
            w += ","
        out.append(w)
    return " ".join(out) + "."


def pubmed_pages(seed: int, out_dir: str, n_articles: int, year: int = 2019) -> dict:
    """Write one NDJSON file per (month, page offset) and return sizes.

    Each month gets one or two pages (the pipeline pages by 10 000
    records of ``total_records``), so the page count varies with the
    seed; articles are spread evenly over the pages. Returns the
    ``search`` table ({month: total_records}), the expected article count
    (records with a pmid and an abstract on a well-formed line) and
    the input sizes.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    pages_per_month = rng.integers(1, 3, 12)
    keys = [(m + 1, p * 10_000) for m in range(12) for p in range(pages_per_month[m])]
    totals = {m + 1: int(pages_per_month[m]) * 10_000 - 1 for m in range(12)}
    per_page = np.array_split(np.arange(n_articles), len(keys))
    pmid_base = int(rng.integers(1_000_000, 30_000_000))
    expected = lines = malformed = nbytes = 0
    for (month, offset), ids in zip(keys, per_page):
        rows = []
        for i in ids:
            rec = {"pmid": str(pmid_base + int(i))}
            has_abs = rng.random() >= NO_ABSTRACT_SHARE
            rec["medent"] = {"abstract": _abstract(rng)} if has_abs else {}
            line = json.dumps(rec)
            if rng.random() < MALFORMED_SHARE:
                # cut inside the medent object: the line is not JSON
                line = line[: line.index('"medent"') + 12]
                malformed += 1
            elif has_abs:
                expected += 1
            rows.append(line)
        body = "\n".join(rows)
        lines += len(rows)
        nbytes += len(body.encode())
        with open(os.path.join(out_dir, f"{year}_{month}_{offset}.ndjson"), "w") as f:
            f.write(body)
    return {
        "year": year,
        "totals": totals,
        "pages": len(keys),
        "expected_articles": expected,
        "sizes": {"articles": n_articles, "ndjson_lines": lines,
                  "malformed_lines": malformed, "ndjson_bytes": nbytes},
    }


# --- star-schema fixture ---------------------------------------------------

_TS = pa.timestamp("us")
_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch micros
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_WORDS = ["small", "large", "red", "blue", "green", "steel", "brass", "copper"]
P_NOUNS = ["ring", "widget", "bolt", "gear", "valve", "spring", "panel", "frame"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]


def _write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_fixture(seed: int, out_dir: str, sf: float) -> dict:
    """Write the fixture tables at scale ``sf`` (sf0.01 ≈ 60k lineitems).

    Schemas follow FIXTURES.md and value domains the fixture it
    describes: orders 1995-01-01 to 2001-08-01, ship dates 1–121 days
    later, 1–7 lines per order, a 31-word document vocabulary with a
    share of near-duplicate texts, unit-norm 64-dim embeddings in ten
    labelled clusters.
    """
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in P_WORDS for b in P_NOUNS]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) * 0.1, 1),
    })
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(odate, _TS),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    pkey = rng.integers(0, n_part, n_li)
    price = t["part"]["p_retailprice"].to_numpy()[pkey]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            np.repeat(odate, lines) + rng.integers(1, 122, n_li) * _DAY_US, _TS
        ),
    })
    t["events"] = _events_table(rng, int(1_000_000 * sf), max(int(150_000 * sf), 20))
    t["documents"] = _documents_table(rng, int(50_000 * sf))
    t["embeddings"] = _embeddings_table(rng, int(20_000 * sf))
    _write(t, out_dir)
    return {"sf": sf, "rows": {k: v.num_rows for k, v in t.items()}}


def _events_table(rng, n: int, n_users: int, t0: int = _EPOCH_2024, span_s: int = 30 * 86_400):
    ts = t0 + np.sort(rng.integers(0, span_s * 1_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, _TS),
        "user_id": pa.array(rng.zipf(1.3, n) % n_users, pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents_table(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.06:
            # near-duplicate of an earlier document: a few tokens swapped
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[j] = DOC_WORDS[int(rng.integers(0, len(DOC_WORDS)))]
            texts.append(" ".join(toks))
        else:
            idx = rng.integers(0, len(DOC_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(DOC_WORDS[k] for k in idx))
    lang = np.array(LANGS)[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings_table(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    v = centers[labels] * 0.3 + rng.normal(0, 1, (n, dim))
    dup = rng.random(n) < 0.05
    src = rng.integers(0, n, n)
    v[dup] = v[src[dup]] + rng.normal(0, 0.02, (int(dup.sum()), dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# --- streaming backlog -----------------------------------------------------

FILE_SPAN_S = 1800  # event time one backlog file covers
LATE_HORIZON_S = 480  # only events this close to a file's end arrive late or twice


def event_backlog(seed: int, out_dir: str, n_files: int, per_file: int,
                  n_users: int = 200, late_share: float = 0.03,
                  dup_share: float = 0.02) -> dict:
    """Write ``n_files`` parquet files of events, oldest first.

    File ``i`` covers event time [i, i+1) x FILE_SPAN_S. About
    ``late_share`` of all events are held back to the next file, so they
    arrive out of order, and about ``dup_share`` are written again (same
    row, same ``event_id``) in the next file. Both are drawn only from a
    file's last LATE_HORIZON_S seconds (8 minutes, under the jobs'
    10-minute watermark), so no row is late enough to be dropped. File
    mtimes are set one second apart so the file source reads them in
    order.
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    carry: list[pa.Table] = []
    n_events = n_dups = n_late = 0
    for i in range(n_files):
        t0 = _EPOCH_2024 + i * FILE_SPAN_S * 1_000_000
        t = _events_table(rng, per_file, n_users, t0, FILE_SPAN_S)
        t = t.set_column(0, "event_id", pa.array(np.arange(per_file) + i * per_file, pa.int64()))
        n_events += per_file
        ts = t["ts"].cast(pa.int64()).to_numpy()
        near_end = (ts >= t0 + (FILE_SPAN_S - LATE_HORIZON_S) * 1_000_000) & (i < n_files - 1)
        u = rng.random(per_file) * LATE_HORIZON_S / FILE_SPAN_S
        held = near_end & (u < late_share)
        dup = near_end & (u >= late_share) & (u < late_share + dup_share)
        n_late += int(held.sum())
        n_dups += int(dup.sum())
        out = pa.concat_tables([t.filter(pa.array(~held)), *carry])
        carry = [t.filter(pa.array(held)), t.filter(pa.array(dup))]
        path = os.path.join(out_dir, f"events_{i:04d}.parquet")
        pq.write_table(out, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return {"files": n_files, "events": n_events, "late_events": n_late,
            "duplicate_rows": n_dups, "rows": n_events + n_dups}
