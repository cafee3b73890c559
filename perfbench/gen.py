"""Seeded input generators for the benchmark workloads.

Each generator draws the values, the rows that carry each injected
violation and the hot key from ``numpy.random.default_rng(seed)``.  The
rates, the hot-key share and the image-size mix are fixed constants, so
runs on different seeds do the same amount of work and their timings
can be compared.  The generator writes the inputs under
``perfbench/data/<workload>-s<seed>-n<size>/`` and records, next to
the data in ``expected.json``, the violation count it injected for
every ``(constraint_id, reason)`` pair.  Injections touch disjoint
rows and every duplicate or stale key is copied from (or aimed past) a
clean row, so each injected row yields exactly the violations listed
and the counts are known without running the engine.

Nothing here uses the engine's own generate-once caches
(``payload.synth.materialize_images`` keys its cache on the source
directory only): a directory is reused only when its ``expected.json``
exists, and that file is written last.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from typing import Callable, Dict, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

D07 = "http://json-schema.org/draft-07/schema#"


def _dict_col(values, codes) -> pa.DictionaryArray:
    return pa.DictionaryArray.from_arrays(
        pa.array(codes, type=pa.int32()), pa.array(values, type=pa.string())
    )


def _pick(rng, pool: np.ndarray, counts: Dict[str, int]) -> Dict[str, np.ndarray]:
    """Disjoint random subsets of ``pool``, one per injection kind."""
    total = sum(counts.values())
    chosen = rng.choice(pool, size=total, replace=False)
    out, at = {}, 0
    for kind, n in counts.items():
        out[kind] = np.sort(chosen[at:at + n])
        at += n
    return out


def _save_expected(path: str, expected: Dict[Tuple[str, str], int], extra: dict) -> None:
    doc = dict(extra)
    doc["violations"] = [[c, r, n] for (c, r), n in sorted(expected.items())]
    tmp = os.path.join(path, "expected.json.tmp")
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, os.path.join(path, "expected.json"))


def load_expected(path: str) -> Tuple[Dict[Tuple[str, str], int], dict]:
    with open(os.path.join(path, "expected.json")) as f:
        doc = json.load(f)
    return {(c, r): n for c, r, n in doc.pop("violations")}, doc


# ---------------------------------------------------------------------------
# keyed_tables: typed fact table + two dims through ValidationEngine
# ---------------------------------------------------------------------------

FACT_ID_BASE = 10_000_000  # fixed-width ids: string order == numeric order
STATUSES = ["NEW", "PAID", "SHIPPED", "DONE"]
N_PARTS = 16
DUP_RATE = 0.002  # per duplicate kind
STALE_RATE = 0.002  # per foreign key
HOT_SHARE = 0.10  # fact rows that all reference one hot customer


def gen_keyed_tables(path: str, seed: int, n: int) -> dict:
    rng = np.random.default_rng(seed)
    n_cust = max(n // 40, 100)
    n_prod = max(n // 100, 100)
    n_codes = max(n_prod // 4, 10)

    cust = pa.table({
        "c_id": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_region": _dict_col(["N", "S", "E", "W"], rng.integers(0, 4, n_cust)),
    })
    prod_codes = np.concatenate([np.arange(n_codes), rng.integers(0, n_codes, n_prod - n_codes)])
    prod = pa.table({
        "p_sku": pa.array(np.arange(n_prod, dtype=np.int64)),
        "p_code": pa.array(prod_codes.astype(np.int32)),
    })

    i = np.arange(n, dtype=np.int64)
    f_order = i // 4
    f_line = (i % 4).astype(np.int32)
    f_part = rng.integers(0, N_PARTS, n).astype(np.int32)
    f_ext = rng.permutation(n).astype(np.int64)
    f_cust = rng.integers(0, n_cust, n).astype(np.float64)  # float: NaN → null
    f_cust[rng.choice(n, size=int(n * HOT_SHARE), replace=False)] = int(rng.integers(0, n_cust))
    f_sku = rng.integers(0, n_prod, n).astype(np.int64)
    f_code = rng.integers(0, n_codes, n).astype(np.int32)
    f_qty = rng.integers(1, 101, n).astype(np.int32)
    f_price = np.round(rng.uniform(0.5, 500.0, n), 2)
    f_disc = np.round(rng.uniform(0.0, 0.5, n), 2)
    f_status = rng.integers(0, len(STATUSES), n).astype(np.int32)

    n_dup = max(int(n * DUP_RATE), 1)
    n_stale = max(int(n * STALE_RATE), 1)
    n_bad = max(n // 2000, 1)
    kinds = {
        "qty_low": n_bad, "qty_high": n_bad, "price_neg": n_bad,
        "status_bad": n_bad, "cust_null": n_bad, "disc_high": n_bad,
        "dup_pk": n_dup, "dup_ext": n_dup, "ext_other_part": n_dup,
        "stale_cust": n_stale, "stale_sku": n_stale, "stale_code": n_stale,
    }
    # targets come from the second half, duplicate sources from the
    # first: every source row is clean and precedes its duplicate
    half = n // 2
    tgt = _pick(rng, np.arange(half, n), kinds)
    srcs = rng.choice(half, size=3 * n_dup, replace=False)
    src_pk, src_ext, src_other = np.split(srcs, 3)

    f_qty[tgt["qty_low"]] = 0
    f_qty[tgt["qty_high"]] = 101
    f_price[tgt["price_neg"]] = -1.0
    f_status[tgt["status_bad"]] = len(STATUSES)  # "LOST"
    f_cust[tgt["cust_null"]] = np.nan
    f_disc[tgt["disc_high"]] = 0.75
    f_order[tgt["dup_pk"]] = f_order[src_pk]
    f_line[tgt["dup_pk"]] = f_line[src_pk]
    f_ext[tgt["dup_ext"]] = f_ext[src_ext]
    f_part[tgt["dup_ext"]] = f_part[src_ext]
    # same external ref in ANOTHER partition: legal under limit_scope
    f_ext[tgt["ext_other_part"]] = f_ext[src_other]
    f_part[tgt["ext_other_part"]] = (f_part[src_other] + 1) % N_PARTS
    f_cust[tgt["stale_cust"]] = n_cust + rng.integers(0, 1000, n_stale)
    f_sku[tgt["stale_sku"]] = n_prod + rng.integers(0, 1000, n_stale)
    f_code[tgt["stale_code"]] = n_codes + rng.integers(0, 1000, n_stale)

    fact = pa.table({
        "f_id": pa.array(i + FACT_ID_BASE),
        "f_order": pa.array(f_order),
        "f_line": pa.array(f_line),
        "f_part": _dict_col([f"p{k:02d}" for k in range(N_PARTS)], f_part),
        "f_ext": pa.array(f_ext),
        "f_cust": pa.array(f_cust, mask=np.isnan(f_cust), type=pa.float64()).cast(pa.int64()),
        "f_sku": pa.array(f_sku),
        "f_code": pa.array(f_code),
        "f_qty": pa.array(f_qty),
        "f_price": pa.array(f_price),
        "f_disc": pa.array(f_disc),
        "f_status": _dict_col(STATUSES + ["LOST"], f_status),
    })
    os.makedirs(path, exist_ok=True)
    for name, tbl in (("customer", cust), ("product", prod), ("fact", fact)):
        pq.write_table(tbl, os.path.join(path, f"{name}.parquet"), row_group_size=1 << 18)

    expected = {
        ("check:f_qty:minimum", "minimum"): n_bad,
        ("check:f_qty:maximum", "maximum"): n_bad,
        ("check:f_price:minimum", "minimum"): n_bad,
        ("check:f_status:enum", "enum"): n_bad,
        ("check:f_cust:required", "required"): n_bad,
        ("check:f_disc:maximum", "maximum"): n_bad,
        ("pk:f_order,f_line", "dup_pk"): n_dup,
        ("unique:f_ext", "dup_unique"): n_dup,
        ("fk:fact.f_cust->customer", "stale_fk"): n_stale,
        ("fk:fact.f_sku->product", "stale_fk"): n_stale,
        ("jk:fact.f_code->product.codes", "stale_fk"): n_stale,
    }
    return {"expected": expected, "rows": n + n_cust + n_prod}


# ---------------------------------------------------------------------------
# json_documents: one-JSON-per-row documents over three schemas
# ---------------------------------------------------------------------------

SITE = "bench://site/1.0"
SAMPLE = "bench://sample/1.0"
TRACK = "bench://track/1.0"

SCHEMAS = [
    ("site.json", {
        "$schema": D07, "$id": SITE, "type": "object",
        "properties": {
            "site_id": {"type": "string", "primary_key": True},
            "name": {"type": "string", "minLength": 1},
            "tags": {"type": "array", "items": {"type": "string"}, "uniqueItems": True},
            "kind": {"anyOf": [
                {"type": "string", "enum": ["field", "lab", "archive"]},
                {"type": "integer", "minimum": 0},
            ]},
        },
        "required": ["site_id", "name"],
    }),
    ("sample.json", {
        "$schema": D07, "$id": SAMPLE, "type": "object",
        "properties": {
            "sample_id": {"type": "string", "primary_key": True},
            "site_ref": {"type": "string"},
            "value": {"type": "number", "minimum": 0},
            "labels": {"type": "array", "items": {"type": "integer"}, "uniqueItems": True},
            "unit": {"oneOf": [{"const": "mg"}, {"const": "ml"}]},
        },
        "required": ["sample_id", "site_ref", "value"],
        "foreign_keys": [{"schema_id": SITE, "members": ["site_ref"]}],
    }),
    # object-shaped anyOf branches under `items` are not compiled to
    # column checks: load_schemas warns and the jsonschema library
    # validates this schema's documents (library_fallback)
    ("track.json", {
        "$schema": D07, "$id": TRACK, "type": "object",
        "properties": {
            "track_id": {"type": "string"},
            "rows": {"type": "array", "items": {"anyOf": [
                {"type": "object", "required": ["kind", "xy"], "properties": {
                    "kind": {"const": "point"},
                    "xy": {"type": "array", "items": {"type": "number"}, "minItems": 2}}},
                {"type": "object", "required": ["kind", "text"], "properties": {
                    "kind": {"const": "label"},
                    "text": {"type": "string", "minLength": 1}}},
            ]}},
        },
        "required": ["track_id"],
    }),
]

# injection kind → (schema, constraint_id, reason) it must produce
DOC_FAULTS = {
    "site_name_empty": (SITE, "check:name:minLength", "minLength"),
    "site_tags_dup": (SITE, "check:tags[]:uniqueItems", "uniqueItems"),
    "site_kind_bad": (SITE, "check:kind:anyOf", "anyOf"),
    "site_dup_pk": (SITE, "pk:site_id", "dup_pk"),
    "sample_value_neg": (SAMPLE, "check:value:minimum", "minimum"),
    "sample_labels_dup": (SAMPLE, "check:labels[]:uniqueItems", "uniqueItems"),
    "sample_unit_bad": (SAMPLE, "check:unit:oneOf", "oneOf"),
    "sample_stale_ref": (SAMPLE, f"fk:{SAMPLE}.site_ref->{SITE}", "stale_fk"),
    "sample_dup_pk": (SAMPLE, "pk:sample_id", "dup_pk"),
    "track_short_xy": (TRACK, "lib:anyOf", "anyOf"),
    "track_missing_id": (TRACK, "lib:required", "required"),
}


def gen_documents(rng, n: int, prefix: str, fault_rate: float):
    """→ (docs [(file, doc)], faults {file: kind}).  Files sort in
    generation order; sites come first so every sample references an
    earlier clean site, and every duplicate copies an earlier clean
    document's key."""
    n_site = max(n // 5, 4)
    n_track = max(n // 5, 2)
    n_sample = max(n - n_site - n_track, 2)
    counts = {"site": n_site, "sample": n_sample, "track": n_track}
    kinds_by = {s: [k for k in DOC_FAULTS if k.startswith(s)] for s in counts}

    docs, faults = [], {}
    clean = {"site": [], "sample": [], "track": []}
    seq = 0
    for schema in ("site", "sample", "track"):
        for j in range(counts[schema]):
            fname = f"{prefix}{seq:08d}.json"
            seq += 1
            kind = None
            # the first two documents of each schema stay clean so
            # duplicates and references always have a source
            if j >= 2 and rng.random() < fault_rate:
                kind = kinds_by[schema][int(rng.integers(len(kinds_by[schema])))]
            key = f"{schema[:2]}-{prefix}{seq:08d}"
            if schema == "site":
                doc = {"@schema": SITE, "site_id": key, "name": f"site {j}",
                       "tags": ["a", "b"], "kind": ["field", "lab", 3][j % 3]}
                if kind == "site_name_empty":
                    doc["name"] = ""
                elif kind == "site_tags_dup":
                    doc["tags"] = ["a", "a"]
                elif kind == "site_kind_bad":
                    doc["kind"] = -5
                elif kind == "site_dup_pk":
                    doc["site_id"] = clean["site"][int(rng.integers(len(clean["site"])))]
            elif schema == "sample":
                ref = clean["site"][int(rng.integers(len(clean["site"])))]
                doc = {"@schema": SAMPLE, "sample_id": key, "site_ref": ref,
                       "value": round(float(rng.uniform(0, 100)), 3),
                       "labels": [1, 2, 3][: 1 + j % 3], "unit": ["mg", "ml"][j % 2]}
                if kind == "sample_value_neg":
                    doc["value"] = -1.5
                elif kind == "sample_labels_dup":
                    doc["labels"] = [4, 4]
                elif kind == "sample_unit_bad":
                    doc["unit"] = "kg"
                elif kind == "sample_stale_ref":
                    doc["site_ref"] = f"missing-{seq}"
                elif kind == "sample_dup_pk":
                    doc["sample_id"] = clean["sample"][int(rng.integers(len(clean["sample"])))]
            else:
                rows = [{"kind": "point", "xy": [j % 7, 1.5]}, {"kind": "label", "text": "t"}]
                doc = {"@schema": TRACK, "track_id": key, "rows": rows[: 1 + j % 2]}
                if kind == "track_short_xy":
                    doc["rows"] = [{"kind": "point", "xy": [1]}]
                elif kind == "track_missing_id":
                    del doc["track_id"]
            if kind is None:
                clean[schema].append(
                    doc.get("site_id") or doc.get("sample_id") or doc.get("track_id"))
            else:
                faults[fname] = kind
            docs.append((fname, doc))
    return docs, faults


DOC_FAULT_RATE = 0.03


def gen_json_documents(path: str, seed: int, n: int) -> dict:
    rng = np.random.default_rng(seed)
    docs, faults = gen_documents(rng, n, "doc", DOC_FAULT_RATE)
    tbl = pa.table({
        "file": [f for f, _ in docs],
        "json": [json.dumps(d, separators=(",", ":")) for _, d in docs],
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "docs.parquet"), row_group_size=1 << 14)
    expected = Counter(DOC_FAULTS[k][1:] for k in faults.values())
    with open(os.path.join(path, "schemas.json"), "w") as f:
        json.dump(SCHEMAS, f)
    return {"expected": dict(expected), "rows": len(docs)}


# ---------------------------------------------------------------------------
# image_payload: stored image + caption table
# ---------------------------------------------------------------------------

FMTS = ["jpeg", "png", "webp"]
PIXEL_CAP = 1 << 16  # codec._IDX32 covers w*h*3 <= 65536
TAIL_SHARE = 0.02  # images above 32 px, up to the pixel cap


def gen_image_payload(path: str, seed: int, n: int) -> dict:
    from python_extended_json_schema_validator_spark.payload import codec

    rng = np.random.default_rng(seed)
    tail = np.zeros(n, dtype=bool)
    tail[rng.choice(n, size=int(n * TAIL_SHARE), replace=False)] = True
    w = rng.integers(8, 33, n)
    h = rng.integers(8, 33, n)
    # the tail reaches the codec's pixel cap: w*h*3 <= 65536
    tw = rng.integers(33, 148, n)
    th = np.minimum(rng.integers(33, 148, n), PIXEL_CAP // (3 * tw))
    w = np.where(tail, tw, w)
    h = np.where(tail, th, h)
    fmt = rng.integers(0, 3, n)
    content = rng.integers(0, 1 << 31, n)
    phash = rng.permutation(n).astype(np.int64) * 7919 + 13

    n_bad = max(n // 400, 1)
    kinds = {k: n_bad for k in (
        "corrupt", "w_negative", "w_off", "noise", "caption", "fmt_tiff",
        "dup_id", "dup_phash")}
    half = n // 2
    tgt = _pick(rng, np.arange(half, n), kinds)
    srcs = rng.choice(half, size=2 * n_bad, replace=False)
    src_id, src_phash = np.split(srcs, 2)

    ids = np.array([f"img{k:08d}" for k in range(n)], dtype=object)
    ids[tgt["dup_id"]] = ids[src_id]
    phash[tgt["dup_phash"]] = phash[src_phash]
    noisy = np.zeros(n, dtype=bool)
    noisy[tgt["noise"]] = True
    corrupt = np.zeros(n, dtype=bool)
    corrupt[tgt["corrupt"]] = True

    blobs = []
    pixel_bytes = 0
    for k in range(n):
        buf = codec.encode(int(content[k]), int(w[k]), int(h[k]), FMTS[fmt[k]],
                           noise_amp=16 if noisy[k] else 0)
        if corrupt[k]:
            buf = buf[:-1] + bytes([buf[-1] ^ 0xFF])
        else:
            pixel_bytes += int(w[k]) * int(h[k]) * 3
        blobs.append(buf)
    declared_w = w.astype(np.int32).copy()
    declared_w[tgt["w_negative"]] *= -1
    declared_w[tgt["w_off"]] += 1
    fmt_names = np.array(FMTS, dtype=object)[fmt]
    fmt_names[tgt["fmt_tiff"]] = "tiff"
    captions = np.array([f"caption for image {i}" for i in ids], dtype=object)
    captions[tgt["caption"]] = captions[tgt["caption"]] + " MUTATED"

    tbl = pa.table({
        "image_id": pa.array(ids, type=pa.string()),
        "bytes": pa.array(blobs, type=pa.binary()),
        "w": pa.array(declared_w),
        "h": pa.array(h.astype(np.int32)),
        "fmt": pa.array(fmt_names, type=pa.string()),
        "caption": pa.array(captions, type=pa.string()),
        "phash": pa.array(phash),
        "part": pa.array([f"p{k % 16}" for k in range(n)], type=pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "images.parquet"), row_group_size=1 << 13)

    expected = {
        ("payload:decode", "decode"): n_bad,
        ("check:w:minimum", "minimum"): n_bad,
        ("payload:dims", "dims"): 2 * n_bad,  # w_negative and w_off
        ("payload:psnr", "psnr"): n_bad,
        ("payload:caption", "caption"): n_bad,
        ("payload:fmt", "fmt"): n_bad,
        ("fk:images.fmt->formats", "stale_fk"): n_bad,
        ("pk:image_id", "dup_pk"): n_bad,
        ("unique:phash", "dup_unique"): n_bad,
    }
    return {"expected": expected, "rows": n, "decoded_mb": pixel_bytes / 1e6}


GENERATORS: Dict[str, Callable[[str, int, int], dict]] = {
    "keyed_tables": gen_keyed_tables,
    "json_documents": gen_json_documents,
    "image_payload": gen_image_payload,
}


def ensure_inputs(workload: str, seed: int, size: int) -> Tuple[str, Dict, dict]:
    """Generate (or reuse) the inputs for (workload, seed, size) →
    (directory, expected counts, generator facts)."""
    path = os.path.join(DATA_ROOT, f"{workload}-s{seed}-n{size}")
    if not os.path.exists(os.path.join(path, "expected.json")):
        facts = GENERATORS[workload](path, seed, size)
        expected = facts.pop("expected")
        _save_expected(path, expected, facts)
    expected, facts = load_expected(path)
    return path, expected, facts
