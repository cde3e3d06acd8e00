"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed writes
byte-identical files, another seed writes different ones. Row counts are
fixed per workload (the seed changes values, never sizes), so timings from
different seeds measure the same amount of work.

- ``integrate_load``: ``;``-delimited French-dated ``contacts.csv`` and
  ``contracts.csv`` with raw phone strings, nulls and planted duplicates, a
  dimension-sized ``relations.xlsx`` (written with the standard library: a
  zip of OOXML parts with inline strings), and a stream of versioned
  position upserts as numbered parquet files under ``changes/``.
- ``corpus_curation``: ``documents.parquet`` and ``embeddings.parquet``
  with the shape measured on the engine's own ``documents``/``embeddings``
  test tables (``CORPUS_SHAPE``).
"""

from __future__ import annotations

import json
import shutil
import zipfile
from pathlib import Path
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pa_csv
import pyarrow.parquet as pq

# --- sizes (fixed: the seed never changes how much work a pass does) -------

INTEGRATE = {
    "people": 3_000,  # distinct natural persons behind the sources
    "contacts": 3_000,  # contact rows, planted duplicates included
    "contracts": 4_500,
    "relations": 400,  # the xlsx dimension
    "change_files": 2,
    "change_rows": 1_500,  # rows per change file
    "change_keys": 2_500,  # distinct position keys the stream touches
}
CORPUS = {"documents": 500, "embeddings": 500}  # the size of the sf0.01 tables
# The corpus's shape, measured on the engine's ``documents`` and
# ``embeddings`` test tables (sf0.001, sf0.01, sf0.1; figures in
# WORKLOADS.md). Text: tokens drawn uniformly from a 30-word vocabulary,
# 10-99 tokens a document, 5% of the documents a copy of another plus a
# marker token, no case or spacing variants. Vectors: unit length in 64
# dimensions, labels uniform and unrelated to the vectors (the per-label
# mean vector's norm is at the 1/sqrt(rows per label) noise level).
CORPUS_SHAPE = {
    "vocabulary": [
        "a", "agg", "batch", "big", "column", "customer", "data", "fast",
        "filter", "group", "hash", "join", "key", "line", "merge", "order",
        "part", "query", "row", "scan", "slow", "small", "sort", "spark",
        "stream", "table", "the", "value", "vector", "window",
    ],
    "tokens": (10, 99),
    "near_dup_share": 0.05,
    "dup_marker": "dup",
    "lang_share": {"en": 0.4, "fr": 0.15, "de": 0.15, "es": 0.15, "zh": 0.15},
    "sources": 20,  # source = "src{doc_id % 20}"
    "dim": 64,
    "labels": 10,
}
# Warm-up inputs run every plan shape of a pass once before timing.
# integrate_load's cold pass is dominated by per-job set-up, so a tenth of
# its input warms it as well for less time; corpus_curation warms up on its
# real input, since after a tiny warm-up its first timed pass still ran ~30%
# slower than the next (its per-row operators need the volume).
INTEGRATE_WARMUP = {
    "people": 300, "contacts": 300, "contracts": 450, "relations": 60,
    "change_files": 2, "change_rows": 150, "change_keys": 250,
}
CONTACTS_SCHEMA = (
    "name string, first_name string, birthday string, civility string, "
    "entity_type string, address string, zip_code string, city string, "
    "country string, phone_number string"
)
CONTRACTS_SCHEMA = (
    "name string, first_name string, birthday string, contract_number string, "
    "open_at string, isin string, count double, unit_price double, "
    "date_price string, value double"
)
CONTACTS_COLUMNS = [c.split()[0] for c in CONTACTS_SCHEMA.split(", ")]
CONTRACTS_COLUMNS = [c.split()[0] for c in CONTRACTS_SCHEMA.split(", ")]
RELATIONS_COLUMNS = [
    "name_s", "first_name_s", "birthday_s",
    "name_d", "first_name_d", "birthday_d", "relation_type",
]
CHANGE_SCHEMA = pa.schema([
    ("position_id", pa.string()),
    ("version", pa.int64()),
    ("quantity", pa.float64()),
    ("unit_price", pa.float64()),
    ("status", pa.string()),
])
RELATION_TYPES = ["espoux (e) de", "parent (e) de", "enfant (e) de", "ami de"]

_SYLLABLES = [
    "ba", "be", "bi", "bo", "da", "de", "di", "do", "fa", "fe", "la", "le",
    "li", "lo", "ma", "me", "mi", "mo", "na", "ne", "ni", "no", "ra", "re",
    "ri", "ro", "sa", "se", "si", "so", "ta", "te", "ti", "to", "va", "ve",
]
# a fixed zip timestamp keeps relations.xlsx byte-identical across runs
_ZIP_TIME = (2020, 1, 1, 0, 0, 0)


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """``n`` distinct pronounceable lowercase words of lo..hi syllables."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _str(x) -> pa.Array:
    return pa.array(x).cast(pa.string())


def _zf(x: np.ndarray, width: int) -> pa.Array:
    return pc.utf8_lpad(_str(x), width=width, padding="0")


def _cat(*parts) -> np.ndarray:
    """Element-wise concatenation of string arrays and scalars."""
    return pc.binary_join_element_wise(*parts, "").to_numpy(zero_copy_only=False)


def _dates(days: np.ndarray, fmt: str) -> np.ndarray:
    """Day offsets from 1940-01-01 as ``dd/mm/yyyy`` (fr) or ISO strings."""
    day = pa.array(days.astype(np.int64) * 86_400 - 946_771_200, pa.timestamp("s"))
    out = pc.strftime(day, format="%Y-%m-%d" if fmt == "iso" else "%d/%m/%Y")
    return out.to_numpy(zero_copy_only=False)


def _raw_phones(rng: np.random.Generator, n: int) -> np.ndarray:
    """Raw phone strings in the formats the reference cleans: dashed,
    parenthesised, dotted, ``001-`` prefixed and bare 10-digit US numbers,
    bare 9-digit French numbers, optional ``x12`` extensions, plus ``n/a``
    and nulls."""
    num = rng.integers(5_000_000_000, 9_000_000_000, n)
    a, b, c = _zf(num // 10**7, 3), _zf(num // 10**4 % 1000, 3), _zf(num % 10**4, 4)
    ext = _str(np.where(rng.random(n) < 0.1, "x12", ""))
    forms = [
        _cat(a, "-", b, "-", c, ext),
        _cat("(", a, ")", b, "-", c, ext),
        _cat(a, ".", b, ".", c, ext),
        _cat("001-", a, "-", b, "-", c, ext),
        _cat(_str(num), ext),
        _cat(_str(rng.integers(600_000_000, 800_000_000, n)), ext),
    ]
    kind = rng.choice(len(forms), n, p=[0.2, 0.1, 0.15, 0.1, 0.25, 0.2])
    out = np.choose(kind, forms)
    u = rng.random(n)
    out[u < 0.04] = None
    out[(u >= 0.04) & (u < 0.05)] = "n/a"
    return out


def _nullify(rng: np.random.Generator, col: np.ndarray, rate: float) -> np.ndarray:
    col = col.astype(object)
    col[rng.random(len(col)) < rate] = None
    return col


def _csv(path: Path, columns: dict[str, np.ndarray]) -> int:
    table = pa.table({k: pa.array(v) for k, v in columns.items()})
    with open(path, "wb") as f:
        f.write((";".join(columns) + "\n").encode())
        pa_csv.write_csv(table, f, pa_csv.WriteOptions(
            include_header=False, delimiter=";", quoting_style="none"))
    return table.num_rows


def _xlsx(path: Path, header: list[str], rows: list[list]) -> None:
    """Minimal single-sheet workbook, every cell an inline string."""

    def col(i: int) -> str:
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    def row_xml(ri: int, vals: list) -> str:
        cells = "".join(
            f'<c r="{col(ci)}{ri}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'
            for ci, v in enumerate(vals)
            if v is not None
        )
        return f'<row r="{ri}">{cells}</row>'

    sheet = "".join(
        row_xml(i + 1, r) for i, r in enumerate([header, *rows])
    )
    ns = "http://schemas.openxmlformats.org"
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            f'<Types xmlns="{ns}/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            f'<Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            f'<workbook xmlns="{ns}/spreadsheetml/2006/main" xmlns:r="{ns}/officeDocument/2006/relationships">'
            '<sheets><sheet name="relations" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            f'<Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            f'<worksheet xmlns="{ns}/spreadsheetml/2006/main"><sheetData>{sheet}</sheetData></worksheet>'
        ),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in parts.items():
            info = zipfile.ZipInfo(name, _ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body)


def gen_integrate(out: Path, seed: int, cfg: dict) -> None:
    """contacts.csv, contracts.csv, relations.xlsx and changes/*.parquet."""
    rng = np.random.default_rng([seed, 1])
    surnames = np.array([w.capitalize() for w in _words(rng, 400, 2, 3)], dtype=object)
    firsts = np.array([w.capitalize() for w in _words(rng, 120, 2, 2)], dtype=object)
    cities = np.array([w.capitalize() for w in _words(rng, 60, 2, 4)], dtype=object)
    companies = np.array([f"{w.capitalize()}Corp" for w in _words(rng, 500, 3, 4)], dtype=object)

    n_p = cfg["people"]
    p_name = surnames[rng.integers(0, len(surnames), n_p)]
    p_first = firsts[rng.integers(0, len(firsts), n_p)]
    p_bday = rng.integers(0, 24_000, n_p)  # 1940 .. 2005

    # contacts: persons from the head of the pool, 5% companies, and 5%
    # planted duplicates of earlier persons with a fresh address and phone
    n_c = cfg["contacts"]
    n_dup = n_pm = n_c // 20
    n_pf = n_c - n_dup - n_pm
    who = np.concatenate([np.arange(n_pf), rng.integers(0, n_pf, n_dup)])
    pm = companies[np.arange(n_pm) % len(companies)]
    none_pm = np.full(n_pm, None, dtype=object)
    city = rng.integers(0, len(cities), n_c)
    contacts = {
        "name": np.concatenate([p_name[who], pm]),
        "first_name": np.concatenate([p_first[who], none_pm]),
        "birthday": np.concatenate([_dates(p_bday[who], "fr"), none_pm]),
        "civility": np.concatenate([
            np.where(rng.random(n_pf + n_dup) < 0.5, "M", "Mme").astype(object), none_pm,
        ]),
        "entity_type": np.array(["PF"] * (n_pf + n_dup) + ["PM"] * n_pm, dtype=object),
        "address": _nullify(rng, _cat(
            _str(rng.integers(1, 300, n_c)), " rue ",
            _str(surnames[rng.integers(0, len(surnames), n_c)]),
        ), 0.03),
        "zip_code": _nullify(rng, _zf(10_000 + city * 997, 5).to_numpy(zero_copy_only=False), 0.02),
        "city": _nullify(rng, cities[city], 0.01),
        "country": np.full(n_c, "FR", dtype=object),
        "phone_number": _raw_phones(rng, n_c),
    }
    order = rng.permutation(n_c)
    _csv(out / "contacts.csv", {k: v[order] for k, v in contacts.items()})

    # contracts: 60% held by contact persons, 30% by persons outside the
    # contacts file, 10% by companies; 2% are later revisions (new price)
    # of an earlier contract number
    n_k = cfg["contracts"]
    n_base = n_k - n_k // 50
    u = rng.random(n_base)
    holder = np.where(u < 0.6, rng.integers(0, n_pf, n_base), rng.integers(n_pf, n_p, n_base))
    is_pm = u >= 0.9
    count = rng.integers(1, 500, n_base).astype(np.float64)
    price = np.round(rng.uniform(5, 900, n_base), 2)
    opened = rng.integers(18_000, 30_000, n_base)
    contracts = {
        "name": np.where(is_pm, companies[rng.integers(0, len(companies), n_base)], p_name[holder]),
        "first_name": np.where(is_pm, None, p_first[holder]),
        "birthday": np.where(is_pm, None, _dates(p_bday[holder], "fr")),
        "contract_number": _cat("C", _zf(np.arange(n_base), 9)),
        "open_at": _dates(opened, "fr"),
        "isin": _cat("FR", _zf(rng.integers(0, 10**10, n_base), 10)),
        "count": count,
        "unit_price": price,
        "date_price": _dates(opened + rng.integers(0, 400, n_base), "fr"),
        "value": np.round(count * price, 2),
    }
    rev = rng.integers(0, n_base, n_k - n_base)
    rev_price = np.round(rng.uniform(5, 900, len(rev)), 2)
    for k, v in contracts.items():
        extra = v[rev]
        if k == "unit_price":
            extra = rev_price
        elif k == "value":
            extra = np.round(contracts["count"][rev] * rev_price, 2)
        contracts[k] = np.concatenate([v, extra])
    order = rng.permutation(n_k)
    _csv(out / "contracts.csv", {k: v[order] for k, v in contracts.items()})

    # relations: distinct (source, destination, type) edges between
    # persons; 1.5% of endpoints lack a first name (dropped by the pipeline)
    n_r = cfg["relations"]
    s = rng.integers(0, n_p, 2 * n_r)
    d = rng.integers(0, n_p, 2 * n_r)
    t = rng.choice(4, 2 * n_r, p=[0.35, 0.3, 0.3, 0.05])
    edge = np.stack([s, d, t], axis=1)[s != d]
    _, first = np.unique(edge, axis=0, return_index=True)
    edge = edge[np.sort(first)][:n_r]
    s, d, t = edge.T
    rels = [
        p_name[s], _nullify(rng, p_first[s], 0.015), _dates(p_bday[s], "iso"),
        p_name[d], _nullify(rng, p_first[d], 0.015), _dates(p_bday[d], "iso"),
        np.array(RELATION_TYPES, dtype=object)[t],
    ]
    _xlsx(out / "relations.xlsx", RELATIONS_COLUMNS, list(zip(*rels)))

    # change stream: versions increase across files, so every (key,
    # version) pair is unique and the last write per key is well defined
    changes = out / "changes"
    changes.mkdir()
    statuses = np.array(["OPEN", "CLOSED", "SUSPENDED"])
    r = cfg["change_rows"]
    for f in range(cfg["change_files"]):
        ids = rng.integers(0, cfg["change_keys"], r)
        tbl = pa.table({
            "position_id": pc.binary_join_element_wise("P", _zf(ids, 8), ""),
            "version": pa.array(f * r + np.arange(1, r + 1), pa.int64()),
            "quantity": pa.array(rng.integers(1, 1000, r).astype(np.float64)),
            "unit_price": pa.array(np.round(rng.uniform(1, 500, r), 2)),
            "status": pa.array(statuses[rng.integers(0, 3, r)]),
        }, schema=CHANGE_SCHEMA)
        pq.write_table(tbl, changes / f"part-{f:04d}.parquet")


def gen_corpus(out: Path, seed: int, cfg: dict) -> None:
    """documents.parquet and embeddings.parquet, drawn with the shape
    measured on the engine's ``documents``/``embeddings`` test tables (see
    ``CORPUS_SHAPE``); only the values depend on the seed."""
    rng = np.random.default_rng([seed, 2])
    shape = CORPUS_SHAPE
    n = cfg["documents"]
    vocab = np.array(shape["vocabulary"], dtype=object)
    lo, hi = shape["tokens"]
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(k))])
             for k in rng.integers(lo, hi + 1, n)]
    # near duplicates: another document's text plus the marker token, in
    # doc_id order, so a copy of an already copied document chains
    # ("... dup dup") and two copies of one document are exact duplicates
    for i in np.sort(rng.choice(n, round(n * shape["near_dup_share"]), replace=False)):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " " + shape["dup_marker"]
    langs = list(shape["lang_share"])
    lang = np.array(langs)[rng.choice(len(langs), n, p=list(shape["lang_share"].values()))]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % shape['sources']}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, out / "documents.parquet")

    m = cfg["embeddings"]
    vecs = rng.normal(0, 1, (m, shape["dim"]))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, shape["labels"], m).astype(np.int32)),
    })
    pq.write_table(emb, out / "embeddings.parquet")


GENERATORS = {
    "integrate_load": (gen_integrate, INTEGRATE, INTEGRATE_WARMUP),
    "corpus_curation": (gen_corpus, CORPUS, CORPUS),
}


def sizes(workload: str, warmup: bool = False) -> dict:
    return GENERATORS[workload][2 if warmup else 1]


def input_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file() and p.name != "DONE")


def ensure_inputs(work: Path, workload: str, seed: int, warmup: bool = False) -> tuple[Path, bool]:
    """Generate the inputs (or the warm-up inputs) for ``(workload, seed)``
    once under ``work``.

    Returns ``(directory, generated_now)``. The ``DONE`` marker records the
    sizes: a cut-short generation or changed sizes start over. Inputs of
    other seeds are removed so the directory stays bounded."""
    fn, full, _ = GENERATORS[workload]
    cfg = sizes(workload, warmup)
    own = cfg is not full
    base = work / "inputs"
    d = base / (f"{workload}-{seed}" + ("-warmup" if own else ""))
    if (d / "DONE").exists() and (d / "DONE").read_text() == json.dumps(cfg):
        return d, False
    if base.exists():
        for old in base.glob(f"{workload}-*"):
            if old.name.endswith("-warmup") == own:
                shutil.rmtree(old)
    d.mkdir(parents=True)
    fn(d, seed, cfg)
    (d / "DONE").write_text(json.dumps(cfg))
    return d, True
