"""Expected outputs, restated with DuckDB and numpy over the generated
inputs. Nothing here calls the benchmarked package; each expectation
is computed once, after the timed region, and compared per call."""

from __future__ import annotations

import functools
import hashlib
import os
import re

import duckdb
import numpy as np

#: Constants the benchmarked operators document as their contract.
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "los", "las", "y", "en", "que", "un", "una"],
    "fr": ["le", "la", "les", "des", "et", "en", "une", "est", "du", "dans"],
    "de": ["der", "die", "das", "und", "ein", "eine", "von", "zu", "mit", "ist"],
}
PII_PATTERNS = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "PHONE": r"(^|[^0-9])\+?[0-9][0-9 ()-]{7,13}[0-9]([^0-9]|$)",
    "AADHAAR": r"(^|[^0-9])[0-9]{4} [0-9]{4} [0-9]{4}([^0-9]|$)",
    "CREDIT_CARD": r"(^|[^0-9])[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}([^0-9]|$)",
}
MINHASH_THRESHOLD = 0.9


def tokens(text: str | None) -> list[str]:
    return re.split(r"\s+", (text or "").strip(" ").lower())


def shingles(text: str, n: int = 3) -> set[str]:
    t = tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter) if (a or b) else 0.0


def _quality(text: str) -> float:
    toks = tokens(text)
    mean_len = sum(len(t) for t in toks) / len(toks) if toks else 0.0
    punct = len(re.sub(r"[A-Za-z0-9\s]", "", text))
    flags = [
        50 <= len(text) <= 20000,
        2.0 <= mean_len <= 12.0,
        bool(set(toks) & set(LANG_STOPWORDS["en"])),
        (punct / len(text) if text else 0.0) <= 0.2,
    ]
    return round(sum(flags) / 4.0, 2)


def _language(text: str) -> str:
    toks = set(tokens(text))
    hits = {lang: len(toks & set(words)) for lang, words in LANG_STOPWORDS.items()}
    if not any(hits.values()):
        return "und"
    return max(LANG_STOPWORDS, key=lambda lang: (hits[lang], -list(LANG_STOPWORDS).index(lang)))


class Expectations:
    """Reference answers over one generated input directory."""

    def __init__(self, inputs: str, manifest: dict) -> None:
        self.inputs = inputs
        self.manifest = manifest
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        tables = os.path.join(inputs, "tables")
        for f in sorted(os.listdir(tables)) if os.path.isdir(tables) else []:
            name = f.removesuffix(".parquet")
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(tables, f)}')"
            )

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    # -- procedures ---------------------------------------------------------

    @functools.cache
    def null_distinct(self, table: str) -> dict[str, tuple[int, int]]:
        cols = [r[0] for r in self.rows(f"DESCRIBE {table}")]
        exprs = ", ".join(
            f'count(*) - count("{c}"), count(DISTINCT "{c}")' for c in cols
        )
        vals = self.rows(f"SELECT {exprs} FROM {table}")[0]
        return {c: (int(vals[2 * i]), int(vals[2 * i + 1])) for i, c in enumerate(cols)}

    @functools.cache
    def count(self, sql: str) -> int:
        return int(self.rows(sql)[0][0])

    @functools.cache
    def revenue_by_nation(self) -> dict[str, float]:
        return dict(self.rows(
            "SELECT n_name, round(sum(l_extendedprice * (1 - coalesce(l_discount, 0))), 2) "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
        ))

    @functools.cache
    def pii_types(self, table: str) -> dict[str, str]:
        """Column -> detected PII types in detection order, over every
        string value (the generated columns are uniform in format, so a
        sample and the full column agree)."""
        cols = [r[0] for r in self.rows(f"DESCRIBE {table}") if r[1] == "VARCHAR"]
        out = {}
        for c in cols:
            values = [v for (v,) in self.rows(f'SELECT DISTINCT "{c}" FROM {table}') if v]
            types = [t for t, p in PII_PATTERNS.items()
                     if any(re.search(p, v) for v in values)]
            if types:
                out[c] = ",".join(types)
        return out

    # -- corpus -------------------------------------------------------------

    @functools.cached_property
    def documents(self) -> list[tuple[int, str]]:
        path = os.path.join(self.inputs, "documents.parquet")
        return self.rows(f"SELECT doc_id, text FROM read_parquet('{path}') ORDER BY doc_id")

    @functools.cached_property
    def exact_survivors(self) -> set[int]:
        first: dict[str, int] = {}
        for doc_id, text in self.documents:
            first.setdefault(" ".join(tokens(text)), doc_id)
        return set(first.values())

    @functools.cached_property
    def prepared(self) -> dict[str, int]:
        kept: dict[str, int] = {}
        for doc_id, text in self.documents:
            if _quality(text or "") >= 0.75 and _language(text or "") == "en":
                kept.setdefault(" ".join(tokens(text)), doc_id)
        chunks = 0
        by_id = dict(self.documents)
        for doc_id in kept.values():
            n = len([t for t in tokens(by_id[doc_id]) if t])
            chunks += (max(n, 1) - 1) // (256 - 32) + 1 if n else 0
        return {"raw_documents": len(self.documents),
                "cleaned_documents": len(kept), "chunks": chunks}

    @functools.cached_property
    def shingle_sets(self) -> dict[int, set[str]]:
        return {doc_id: shingles(text) for doc_id, text in self.documents}

    @functools.cached_property
    def planted_near_dups(self) -> set[tuple[int, int]]:
        """Planted near-duplicate pairs whose true Jaccard clears the
        detection threshold."""
        s = self.shingle_sets
        return {
            (a, b) for a, b in self.manifest["truth"]["near_dup_pairs"]
            if jaccard(s[a], s[b]) >= MINHASH_THRESHOLD
        }

    @functools.cached_property
    def pii_planted(self) -> dict[str, int]:
        return self.manifest["truth"]["pii_planted"]

    @functools.cached_property
    def embeddings(self) -> tuple[np.ndarray, np.ndarray]:
        path = os.path.join(self.inputs, "embeddings.parquet")
        rows = self.rows(f"SELECT vec_id, embedding FROM read_parquet('{path}') ORDER BY vec_id")
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        X = np.array([r[1] for r in rows], dtype=np.float64)
        return ids, X

    @functools.cache
    def knn(self, k: int) -> dict[int, tuple[np.ndarray, np.ndarray]]:
        """Per query: exact cosine of every other vector, and the k-th
        best cosine (the score a correct top-k may not fall below)."""
        ids, X = self.embeddings
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        out = {}
        for q in self.manifest["truth"]["queries"]:
            cos = Xn @ Xn[np.searchsorted(ids, q)]
            cos[ids == q] = -np.inf
            out[q] = (cos, np.sort(cos)[-k])
        return out

    # -- upserts ------------------------------------------------------------

    def scd_expected(self, n_batches: int) -> tuple[int, str]:
        """Latest version per key over the initial dimension and the
        first ``n_batches`` change batches: row count and content hash."""
        batches = ", ".join(
            f"'{os.path.join(self.inputs, 'scd_batches', f'batch_{i:03d}.parquet')}'"
            for i in range(n_batches)
        )
        union = f"SELECT {SCD_COLUMNS} FROM {self.scd_initial()}"
        if batches:
            union += f" UNION ALL SELECT {SCD_COLUMNS} FROM read_parquet([{batches}])"
        rows = self.rows(
            f"SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY c_custkey ORDER BY ts DESC) AS rn FROM ({union})) WHERE rn = 1"
        )
        return len(rows), table_hash(rows)

    def scd_initial(self) -> str:
        """The initial dimension as a DuckDB relation."""
        path = os.path.join(self.inputs, self.manifest["inputs"]["scd.initial"]["path"])
        return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"

    def table_hash_of(self, path: str) -> tuple[int, str]:
        rows = self.rows(
            f"SELECT {SCD_COLUMNS} FROM "
            f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
        )
        return len(rows), table_hash(rows)


#: SCD columns in a fixed order, the timestamp as epoch microseconds so
#: naive and UTC-adjusted parquet timestamps compare equal.
SCD_COLUMNS = ("c_custkey, c_name, c_email, c_phone, c_mktsegment::VARCHAR AS c_mktsegment, "
               "c_acctbal, epoch_us(updated_at) AS ts")


def table_hash(rows: list[tuple]) -> str:
    """Order-independent content hash: md5 over the sorted row reprs."""
    h = hashlib.md5(SCD_COLUMNS.encode())
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()
