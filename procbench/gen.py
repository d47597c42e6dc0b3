"""Seeded input generator for the stored-procedure benchmark.

Writes every input the benchmarked program receives, derived only from
``--seed``: TPC-H-shaped tables, their csv/ndjson/parquet/xlsx/xml
exports, a document corpus with planted exact duplicates,
near-duplicates and PII strings, an embedding set with IVF centroids,
and a stream of SCD change batches. Table sizes are fixed; the seed
changes values only, so every seed does the same amount of work.

``manifest.json`` records row counts and bytes per input, plus the
planted ground truth the output checks compare against.

    python3 procbench/gen.py --seed 7 --out procbench/.work/inputs
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: Rows per table. Fixed across seeds so a seed never changes the work.
#: orders is sized so the table and file DQ scans are a measured share
#: of their calls (see README.md, "Input sizes"); the other tables keep
#: TPC-H's ratios to it.
SIZES = {
    "customer": 3000,
    "supplier": 200,
    "part": 4000,
    "orders": 30000,
    "lineitem": 120000,
}

#: Corpus shape: base documents per language, plus planted rows.
N_EN, N_ES, N_FR, N_JUNK = 500, 60, 60, 30
N_EXACT_DUP, N_NEAR_DUP = 40, 40
PII_DOCS = 100

N_VECTORS, DIM, N_CLUSTERS, N_QUERIES = 1500, 16, 8, 8

SCD_INITIAL, SCD_BATCHES, SCD_BATCH_ROWS = 2000, 40, 200

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]
ES_STOP = ["el", "los", "las", "y", "que", "un", "una", "de", "la"]
FR_STOP = ["le", "les", "des", "et", "une", "est", "du", "dans"]
EPOCH = dt.datetime(1992, 1, 1)


def _ts(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    secs = rng.integers(0, days * 86400, n)
    return (np.datetime64(EPOCH, "us") + secs.astype("timedelta64[s]")).astype(
        "datetime64[us]"
    )


def _with_nulls(rng: np.random.Generator, values: list, frac: float) -> list:
    mask = rng.random(len(values)) < frac
    return [None if m else v for v, m in zip(values, mask)]


def _words(rng: np.random.Generator, n: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ter", "sa", "on", "ri", "ve", "pan", "dor",
            "ul", "be", "ci", "ta", "nor", "gel", "fi", "ra", "mo", "ex"]
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(syll, rng.integers(2, 4))))
    return sorted(out)


def make_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = SIZES
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(1, n["customer"] + 1)
    customer = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(ck)), 2),
        "c_mktsegment": pa.array(
            _with_nulls(rng, list(rng.choice(SEGMENTS, len(ck))), 0.05), pa.string()
        ),
        "c_email": [f"user{k}.{rng.integers(1000)}@example.com" for k in ck],
        "c_phone": [
            f"{rng.integers(10, 35)}-{rng.integers(100, 1000)}-"
            f"{rng.integers(100, 1000)}-{rng.integers(1000, 10000)}"
            for _ in ck
        ],
    })
    sk = np.arange(1, n["supplier"] + 1)
    supplier = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, len(sk)), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(sk)), 2),
    })
    pk = np.arange(1, n["part"] + 1)
    colors = ["almond", "azure", "blush", "coral", "ivory", "khaki", "linen", "olive"]
    part = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [" ".join(rng.choice(colors, 3)) for _ in pk],
        "p_brand": [f"Brand#{rng.integers(1, 6)}{rng.integers(1, 6)}" for _ in pk],
        "p_type": list(rng.choice(["ECONOMY TIN", "LARGE BRASS", "SMALL PLATED",
                                   "STANDARD COPPER", "PROMO STEEL"], len(pk))),
        "p_size": pa.array(rng.integers(1, 51, len(pk)), pa.int32()),
        "p_retailprice": np.round(900 + pk / 10 + rng.uniform(0, 100, len(pk)), 2),
    })
    ok = np.arange(1, n["orders"] + 1) * 4
    orders = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n["customer"] + 1, len(ok)), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], len(ok))),
        # distinct by construction: file DQ skips functional-dependency
        # scans for unique columns, so a chance duplicate would change
        # the number of Spark jobs from seed to seed
        "o_totalprice": (rng.choice(44_915_000, len(ok), replace=False) + 85_000) / 100,
        "o_orderdate": pa.array(_ts(rng, len(ok), 2400), pa.timestamp("us")),
        "o_orderpriority": pa.array(
            _with_nulls(
                rng,
                list(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"], len(ok))),
                0.03,
            ),
            pa.string(),
        ),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.choice(ok, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n["part"] + 1, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n["supplier"] + 1, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2),
        "l_discount": pa.array(
            _with_nulls(rng, list(np.round(rng.integers(0, 11, nl) / 100, 2)), 0.02),
            pa.float64(),
        ),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": list(rng.choice(["F", "O"], nl)),
        "l_shipdate": pa.array(_ts(rng, nl, 2500), pa.timestamp("us")),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem,
    }


def _cell_ref(col: int, row: int) -> str:
    name = ""
    col += 1
    while col:
        col, rem = divmod(col - 1, 26)
        name = chr(65 + rem) + name
    return f"{name}{row}"


def write_xlsx(path: str, table: pa.Table) -> None:
    """Minimal single-sheet .xlsx through stdlib zipfile: inline-string
    cells for text, plain numeric cells for numbers."""
    cols = table.column_names
    data = table.to_pylist()
    rows_xml = []
    for r, values in enumerate([dict(zip(cols, cols))] + data, start=1):
        cells = []
        for c, name in enumerate(cols):
            v = values[name]
            ref = _cell_ref(c, r)
            if v is None:
                continue
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                cells.append(
                    f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'
                )
        rows_xml.append(f'<row r="{r}">{"".join(cells)}</row>')
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sheet = (
        f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{ns}">'
        f'<sheetData>{"".join(rows_xml)}</sheetData></worksheet>'
    )
    workbook = (
        f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}" '
        f'xmlns:r="{rel}"><sheets><sheet name="data" sheetId="1" r:id="rId1"/>'
        "</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        f'<Relationship Id="rId1" Type="{rel}/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        f'<Relationship Id="rId1" Type="{rel}/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8"?><Types xmlns='
        '"http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType='
        '"application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>'
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def write_xml(path: str, table: pa.Table, record: str) -> None:
    """Record-oriented XML: one child element per row, one grandchild
    per non-null column."""
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<data>\n')
        for row in table.to_pylist():
            fields = "".join(
                f"<{k}>{escape(str(v))}</{k}>" for k, v in row.items() if v is not None
            )
            f.write(f"<{record}>{fields}</{record}>\n")
        f.write("</data>\n")


def write_ndjson(path: str, table: pa.Table) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for row in table.to_pylist():
            f.write(json.dumps(
                {k: (v.isoformat() if isinstance(v, dt.datetime) else v)
                 for k, v in row.items()}
            ) + "\n")


def make_corpus(rng: np.random.Generator) -> tuple[pa.Table, dict]:
    """Documents with planted exact duplicates (same text up to case
    and whitespace), near-duplicates (one token replaced in a long
    document) and in-text PII (email, card, aadhaar, phone)."""
    vocab = _words(rng, 400)
    docs: list[tuple[str, str]] = []

    vocab_arr = np.array(vocab)

    def sentence(stops: list[str], n_tok: int) -> list[str]:
        words = vocab_arr[rng.integers(0, len(vocab), n_tok)]
        stop = np.array(stops)[rng.integers(0, len(stops), n_tok)]
        return list(np.where(rng.random(n_tok) < 0.25, stop, words))

    for _ in range(N_EN):
        docs.append(("en", " ".join(sentence(EN_STOP, int(rng.integers(40, 140))))))
    for _ in range(N_ES):
        docs.append(("es", " ".join(sentence(ES_STOP, int(rng.integers(40, 120))))))
    for _ in range(N_FR):
        docs.append(("fr", " ".join(sentence(FR_STOP, int(rng.integers(40, 120))))))
    for _ in range(N_JUNK):
        docs.append(("und", " ".join("#$%&*" [int(i) % 5] * int(rng.integers(2, 6))
                                     for i in rng.integers(0, 5, 20))))
    pii = {"EMAIL": 0, "CREDIT_CARD": 0, "AADHAAR": 0, "PHONE": 0}
    en_idx = [i for i, (lang, _) in enumerate(docs) if lang == "en"]
    for i in rng.choice(en_idx, PII_DOCS, replace=False):
        toks = docs[i][1].split(" ")
        kind = ("EMAIL", "CREDIT_CARD", "AADHAAR", "PHONE")[int(rng.integers(0, 4))]
        if kind == "EMAIL":
            val = f"{rng.choice(vocab)}.{rng.choice(vocab)}@mail.example.org"
        elif kind == "CREDIT_CARD":
            val = "-".join(f"{rng.integers(1000, 10000)}" for _ in range(4))
        elif kind == "AADHAAR":
            val = " ".join(f"{rng.integers(1000, 10000)}" for _ in range(3))
        else:
            val = f"{rng.integers(200, 1000)}-{rng.integers(100, 1000)}-{rng.integers(1000, 10000)}"
        toks.insert(int(rng.integers(1, len(toks))), val)
        docs[i] = ("en", " ".join(toks))
        pii[kind] += 1
    # exact duplicates: same tokens, different case and spacing
    exact_src = rng.choice(en_idx, N_EXACT_DUP, replace=False)
    for i in exact_src:
        text = docs[i][1]
        docs.append(("en", "  " + text.upper().replace(" ", "   ", 3) + " "))
    # near-duplicates: one token of a long document replaced. Sources
    # differ from the exact-duplicate ones, so every planted group is a
    # pair and connected components take the same rounds for any seed.
    taken = set(exact_src)
    long_idx = [i for i in en_idx if len(docs[i][1].split(" ")) >= 100 and i not in taken]
    near_pairs = []
    for i in rng.choice(long_idx, N_NEAR_DUP, replace=False):
        toks = docs[i][1].split(" ")
        j = int(rng.integers(0, len(toks)))
        toks[j] = str(rng.choice(vocab)) + "x"
        near_pairs.append((int(i), len(docs)))
        docs.append(("en", " ".join(toks)))
    # doc ids are a seeded permutation so planted rows are not id-ordered
    ids = rng.permutation(len(docs)) * 3 + 11
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [t for _, t in docs],
        "lang": [lang for lang, _ in docs],
        "source": [f"src{int(k)}" for k in rng.integers(0, 10, len(docs))],
    })
    truth = {
        "pii_planted": pii,
        "near_dup_pairs": sorted(
            [min(int(ids[a]), int(ids[b])), max(int(ids[a]), int(ids[b]))]
            for a, b in near_pairs
        ),
    }
    return table, truth


def make_embeddings(rng: np.random.Generator) -> tuple[pa.Table, pa.Table, list[int]]:
    """Equal-sized clusters, IVF cells seeded at the true centres and one
    query per cluster, so the cells a query probes hold about the same
    number of vectors for every seed."""
    centers = rng.normal(0, 1, (N_CLUSTERS, DIM))
    labels = rng.permutation(np.arange(N_VECTORS) % N_CLUSTERS)
    X = (centers[labels] + rng.normal(0, 0.35, (N_VECTORS, DIM))).astype(np.float32)
    ids = np.arange(N_VECTORS, dtype=np.int64) * 2 + 1
    # IVF cells: a few Lloyd iterations on cosine-normalised vectors
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = centers / np.linalg.norm(centers, axis=1, keepdims=True)
    for _ in range(5):
        assign = np.argmax(Xn @ C.T, axis=1)
        for c in range(N_CLUSTERS):
            if np.any(assign == c):
                C[c] = Xn[assign == c].mean(axis=0)
    emb = pa.table({
        "vec_id": pa.array(ids),
        "embedding": pa.array([list(map(float, r)) for r in X], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    cents = pa.table({
        "centroid_id": pa.array(range(N_CLUSTERS), pa.int32()),
        "embedding": pa.array([list(map(float, r)) for r in C.astype(np.float32)],
                              pa.list_(pa.float32())),
    })
    queries = sorted(int(rng.choice(ids[labels == c])) for c in range(N_QUERIES))
    return emb, cents, queries


def make_scd(rng: np.random.Generator) -> tuple[pa.Table, list[pa.Table]]:
    """Initial dimension plus change batches: updates of existing keys,
    new keys, and several versions of one key inside a batch, rows
    shuffled so batch order is not version order. ``updated_at`` grows
    strictly along the stream, so latest-per-key is the SCD1 answer."""
    n_rows = SCD_INITIAL + SCD_BATCHES * SCD_BATCH_ROWS
    draws = {
        "mail": rng.integers(0, 1000, n_rows),
        "phone": np.stack([rng.integers(10, 35, n_rows), rng.integers(100, 1000, n_rows),
                           rng.integers(100, 1000, n_rows),
                           rng.integers(1000, 10000, n_rows)], axis=1),
        "seg": rng.integers(0, len(SEGMENTS), n_rows),
        "bal": np.round(rng.uniform(-999.99, 9999.99, n_rows), 2),
    }
    clock = [0]

    def row(key: int) -> dict:
        i = clock[0]
        clock[0] += 1
        return {
            "c_custkey": key,
            "c_name": f"Customer#{key:09d}",
            "c_email": f"user{key}.{draws['mail'][i]}@example.com",
            "c_phone": "-".join(str(x) for x in draws["phone"][i]),
            "c_mktsegment": SEGMENTS[draws["seg"][i]],
            "c_acctbal": float(draws["bal"][i]),
            "updated_at": EPOCH + dt.timedelta(seconds=i + 1),
        }

    schema = pa.schema([
        ("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_email", pa.string()),
        ("c_phone", pa.string()), ("c_mktsegment", pa.string()),
        ("c_acctbal", pa.float64()), ("updated_at", pa.timestamp("us")),
    ])
    initial = pa.Table.from_pylist([row(k) for k in range(1, SCD_INITIAL + 1)], schema)
    next_key = SCD_INITIAL + 1
    batches = []
    for _ in range(SCD_BATCHES):
        n_new = SCD_BATCH_ROWS // 4
        n_upd = SCD_BATCH_ROWS - n_new - SCD_BATCH_ROWS // 10
        keys = list(rng.integers(1, next_key, n_upd)) + list(range(next_key, next_key + n_new))
        next_key += n_new
        keys += list(rng.choice(keys, SCD_BATCH_ROWS - len(keys)))
        rows = [row(int(k)) for k in keys]
        random.Random(int(rng.integers(1 << 31))).shuffle(rows)
        batches.append(pa.Table.from_pylist(rows, schema))
    return initial, batches


def _size(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


#: Input groups; each draws from its own seeded stream, so generating
#: one group writes the same data as generating all of them.
PARTS = ("tables", "corpus", "scd")

#: (export key, source table, columns, rows, format)
EXPORTS = (
    ("export.orders_csv", "orders",
     ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"], None, "csv"),
    ("export.lineitem_ndjson", "lineitem",
     ["l_orderkey", "l_quantity", "l_discount", "l_returnflag"], 4000, "ndjson"),
    ("export.part_parquet", "part", ["p_partkey", "p_brand", "p_size", "p_retailprice"],
     None, "parquet"),
    ("export.customer_xlsx", "customer",
     ["c_custkey", "c_name", "c_mktsegment", "c_acctbal"], 400, "xlsx"),
    ("export.supplier_xml", "supplier", ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
     None, "xml"),
)


def generate(seed: int, out: str, parts: tuple[str, ...] = PARTS) -> dict:
    """Write the inputs of ``parts`` under ``out`` and return the manifest."""
    inputs: dict[str, dict] = {}
    truth: dict = {}

    def rng_for(part: str) -> np.random.Generator:
        return np.random.default_rng([seed, PARTS.index(part)])

    def record(name: str, path: str, rows: int) -> None:
        inputs[name] = {"path": os.path.relpath(path, out), "rows": rows,
                        "bytes": _size(path)}

    if "tables" in parts:
        tables_dir, exports = os.path.join(out, "tables"), os.path.join(out, "exports")
        os.makedirs(tables_dir, exist_ok=True)
        os.makedirs(exports, exist_ok=True)
        tables = make_tables(rng_for("tables"))
        for name, t in tables.items():
            p = os.path.join(tables_dir, f"{name}.parquet")
            pq.write_table(t, p)
            record(f"table.{name}", p, t.num_rows)
        for key, table, cols, rows, fmt in EXPORTS:
            t = tables[table].select(cols)
            t = t.slice(0, rows) if rows else t
            p = os.path.join(exports, f"{table}.{fmt}")
            if fmt == "csv":
                pacsv.write_csv(t, p)
            elif fmt == "ndjson":
                write_ndjson(p, t)
            elif fmt == "parquet":
                pq.write_table(t, p)
            elif fmt == "xlsx":
                write_xlsx(p, t)
            else:
                write_xml(p, t, table)
            record(key, p, t.num_rows)

    if "corpus" in parts:
        rng = rng_for("corpus")
        os.makedirs(out, exist_ok=True)
        docs, corpus_truth = make_corpus(rng)
        truth.update(corpus_truth)
        dp = os.path.join(out, "documents.parquet")
        pq.write_table(docs, dp)
        record("corpus.documents", dp, docs.num_rows)
        emb, cents, truth["queries"] = make_embeddings(rng)
        ep = os.path.join(out, "embeddings.parquet")
        pq.write_table(emb, ep)
        record("corpus.embeddings", ep, emb.num_rows)
        cp = os.path.join(out, "centroids.parquet")
        pq.write_table(cents, cp)
        record("corpus.centroids", cp, cents.num_rows)

    if "scd" in parts:
        batches_dir = os.path.join(out, "scd_batches")
        os.makedirs(batches_dir, exist_ok=True)
        initial, batches = make_scd(rng_for("scd"))
        # the initial dimension, laid out as the upsert writes it
        ip = os.path.join(out, "scd_initial")
        pq.write_to_dataset(initial, ip, partition_cols=["c_mktsegment"])
        record("scd.initial", ip, initial.num_rows)
        for i, b in enumerate(batches):
            bp = os.path.join(batches_dir, f"batch_{i:03d}.parquet")
            pq.write_table(b, bp)
            record(f"scd.batch_{i:03d}", bp, b.num_rows)

    manifest = {"seed": seed, "parts": list(parts), "inputs": inputs, "truth": truth}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    m = generate(args.seed, args.out)
    for name, info in sorted(m["inputs"].items()):
        print(f"{name:28s} rows={info['rows']:>7d} bytes={info['bytes']:>9d}")


if __name__ == "__main__":
    main()
