"""Seeded benchmark inputs and the single-process oracle's expected outputs.

Inputs are built in two steps, both cached under `.perfbench_cache/` at the
root of the checkout (never a tracked file):

1. Pools, built once per checkout by `python3 perfbench/corpus.py`:
   - the raw pool renders documents `doc-00000000...` with
     `datagen.doc_spans_for` / `datagen.media_row_for`;
   - the codec pool re-encodes the first pages of the raw pool in every
     codec of `CODECS` with `multimodal.reencode_media`;
   - for every (page, codec) the oracle's output is stored:
     `oracle.page.document_spans` of that page, and the hierarchy rows of
     `analyze_page(...).rows()` as a multiset hash.
2. Per (corpus, seed, pages): documents are picked by the seed until
   exactly `pages` image pages are in, with the pixel count held near the
   pool average. Pages are dealt to the codecs and to a fixed number of
   parquet files by size, so every codec and every file get the same
   work. The expected outputs are assembled from the cached per-page
   oracle results, so a run never re-runs the oracle.

`document_spans` handles each span of a document independently and
numbers the concatenated result, so a document's expected span list is
its per-span lists concatenated in offset order and renumbered.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

CACHE = os.path.join(ROOT, ".perfbench_cache")
POOL_FORMAT = 2               # bump when a cached layout changes
INPUT_FORMAT = 2
CANDIDATES = 20               # seeded selections tried per input

RAW_POOL_PAGES = 600          # rendered pages in the raw pool
CODEC_POOL_PAGES = 192        # raw-pool prefix re-encoded in every codec

# name -> reencode_media keyword arguments
CODECS = {
    "jpeg": {"codec": "jpeg"},
    "jp2": {"codec": "jp2"},
    "gif": {"codec": "gif"},
    "tiff-lzw": {"codec": "tiff", "compression": "lzw"},
    "tiff-g4": {"codec": "tiff", "compression": "g4", "tiff_bits": 1},
    "png": {"codec": "png"},
    "pdf-ccitt": {"codec": "pdf", "pdf_ccitt": True},
    "bmp": {"codec": "bmp"},
}

SPAN_COLUMNS = ("doc_id", "seq", "kind", "text", "media_ref")


# --------------------------------------------------------------------------
# output hashes
# --------------------------------------------------------------------------

def span_hash(rows) -> str:
    """Order-free hash of span rows (doc_id, seq, kind, text, media_ref).
    The text of kind='error' rows is left out: it is a free-form reason."""
    norm = sorted((r[0], int(r[1]), r[2], None if r[2] == "error" else r[3],
                   r[4]) for r in rows)
    return hashlib.sha256(json.dumps(norm).encode()).hexdigest()


def _norm(v):
    import numpy as np
    if v is None or isinstance(v, (bool, np.bool_)):
        return None if v is None else bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return float(np.float32(v))      # Spark stores these as FloatType
    return v


def row_multiset(rows) -> tuple[int, int]:
    """(sum of 64-bit row hashes mod 2**64, row count): an order-free
    hash that sums over pages, so per-page results can be cached."""
    total = 0
    n = 0
    for r in rows:
        key = repr(tuple(_norm(v) for v in r)).encode()
        total += int.from_bytes(
            hashlib.blake2b(key, digest_size=8).digest(), "big")
        n += 1
    return total % (1 << 64), n


def hocr_hash(rows) -> str:
    return hashlib.sha256(json.dumps(sorted(
        (r[0], r[1], r[2]) for r in rows)).encode()).hexdigest()


# --------------------------------------------------------------------------
# pools
# --------------------------------------------------------------------------

def pool_dir(name: str) -> str:
    size = RAW_POOL_PAGES if name == "raw" else CODEC_POOL_PAGES
    return os.path.join(CACHE, f"pool-{name}-v{POOL_FORMAT}-p{size}")


def _oracle_page(task):
    """One pool page through the oracle: (media_ref, span rows, hierarchy
    multiset). Runs in a worker process."""
    doc_id, span, row = task
    from org_dharts_dia_tesseract_spark.functions.config import \
        resolve_languages
    from org_dharts_dia_tesseract_spark.operators.extract import \
        HIERARCHY_SCHEMA
    from org_dharts_dia_tesseract_spark.oracle.page import (
        analyze_page, decode_payload, document_spans, resolve_ppi)
    spans = document_spans({"doc_id": doc_id, "spans": [span]},
                           {span["media_ref"]: row}.get)
    spans = [[s["kind"], s["text"], s["media_ref"]] for s in spans]
    # the per-page call analyze_documents makes
    img = decode_payload(row["payload"], row["width"], row["height"],
                         row["bands"])
    res = analyze_page(img, langs=resolve_languages("eng"),
                       ppi=resolve_ppi(row["payload"], row["dpi"]))
    names = [f.name for f in HIERARCHY_SCHEMA]
    full = ({**r, "doc_id": doc_id, "media_ref": span["media_ref"],
             "offset": span["offset"]} for r in res.rows())
    hier = list(row_multiset(tuple(r[c] for c in names) for r in full))
    return span["media_ref"], spans, hier


def _run_oracle(tasks) -> dict:
    import multiprocessing as mp
    with mp.get_context("spawn").Pool(4) as pool:
        out = pool.map(_oracle_page, tasks, chunksize=8)
    return {ref: {"spans": spans, "hier": hier} for ref, spans, hier in out}


MEDIA_COLUMNS = ("media_ref", "width", "height", "bands", "dpi", "payload")


def _write_media(rows, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = {c: [r[c] for r in rows] for c in MEDIA_COLUMNS}
    pq.write_table(pa.table(cols, schema=media_schema()), path,
                   compression="zstd")


def media_schema():
    import pyarrow as pa
    return pa.schema([
        pa.field("media_ref", pa.string(), False),
        pa.field("width", pa.int32(), False),
        pa.field("height", pa.int32(), False),
        pa.field("bands", pa.int32(), False),
        pa.field("dpi", pa.int32(), True),
        pa.field("payload", pa.binary(), False),
    ])


def documents_schema():
    import pyarrow as pa
    span = pa.struct([
        pa.field("kind", pa.string(), False),
        pa.field("text", pa.string(), True),
        pa.field("media_ref", pa.string(), True),
        pa.field("offset", pa.int32(), False),
    ])
    return pa.schema([pa.field("doc_id", pa.string(), False),
                      pa.field("spans", pa.list_(span), False)])


def read_media(path: str) -> dict:
    import pyarrow.parquet as pq
    return {r["media_ref"]: r for r in pq.read_table(path).to_pylist()}


def _commit(tmp: str, final: str) -> None:
    if os.path.exists(final):
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)


def build_raw_pool() -> None:
    from org_dharts_dia_tesseract_spark.datagen import (doc_spans_for,
                                                        media_row_for)
    final = pool_dir("raw")
    if os.path.exists(final):
        return
    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    docs, rows, n_pages = [], {}, 0
    while n_pages < RAW_POOL_PAGES:
        doc_id = f"doc-{len(docs):08d}"
        spans = doc_spans_for(doc_id)
        docs.append({"doc_id": doc_id, "spans": spans})
        for s in spans:
            if s["kind"] == "image":
                rows[s["media_ref"]] = media_row_for(s["media_ref"])
                n_pages += 1
    _write_media(list(rows.values()), os.path.join(tmp, "media.parquet"))
    tasks = [(d["doc_id"], s, rows[s["media_ref"]])
             for d in docs for s in d["spans"] if s["kind"] == "image"]
    with open(os.path.join(tmp, "docs.json"), "w") as f:
        json.dump(docs, f)
    with open(os.path.join(tmp, "oracle.json"), "w") as f:
        json.dump(_run_oracle(tasks), f)
    _commit(tmp, final)


def build_codec_pool() -> None:
    final = pool_dir("codec")
    if os.path.exists(final):
        return
    raw = pool_dir("raw")
    with open(os.path.join(raw, "docs.json")) as f:
        docs = json.load(f)
    # whole documents from the front of the raw pool
    keep, n_pages = [], 0
    for d in docs:
        if n_pages >= CODEC_POOL_PAGES:
            break
        keep.append(d)
        n_pages += sum(s["kind"] == "image" for s in d["spans"])
    refs = {s["media_ref"] for d in keep for s in d["spans"]
            if s["kind"] == "image"}
    raw_media = {k: v for k, v in
                 read_media(os.path.join(raw, "media.parquet")).items()
                 if k in refs}
    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    from org_dharts_dia_tesseract_spark.operators.multimodal import \
        reencode_media
    from org_dharts_dia_tesseract_spark.session import get_spark
    from pyspark.sql import functions as F
    spark = get_spark("local[4]", app_name="perfbench-pool",
                      extra_conf=spark_conf())
    try:
        src = spark.read.parquet(os.path.join(raw, "media.parquet")) \
            .where(F.col("media_ref").isin(sorted(refs))).repartition(16)
        for name, kw in CODECS.items():
            kw = dict(kw)
            enc = reencode_media(src, kw.pop("codec"), **kw).collect()
            rows = [{**raw_media[r["media_ref"]],
                     "payload": bytes(r["payload"])} for r in enc]
            _write_media(rows, os.path.join(tmp, f"media-{name}.parquet"))
    finally:
        spark.stop()
    with open(os.path.join(tmp, "docs.json"), "w") as f:
        json.dump(keep, f)
    for name in CODECS:
        media = read_media(os.path.join(tmp, f"media-{name}.parquet"))
        tasks = [(d["doc_id"], s, media[s["media_ref"]])
                 for d in keep for s in d["spans"] if s["kind"] == "image"]
        with open(os.path.join(tmp, f"oracle-{name}.json"), "w") as f:
            json.dump(_run_oracle(tasks), f)
    _commit(tmp, final)


def ensure_pools(timeout_s: float = 850.0) -> None:
    """Build missing pools in a child process (it needs its own Spark
    session, which must not warm the measured one)."""
    if all(os.path.exists(pool_dir(p)) for p in ("raw", "codec")):
        return
    subprocess.run([sys.executable, os.path.abspath(__file__)],
                   check=True, timeout=timeout_s, stdout=sys.stderr)


def set_env() -> None:
    """Process settings shared by every benchmark process: temporary
    files stay in the cache, and the driver heap is bounded."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp          # in case the default was already read
    # every JVM the launcher starts, not only the driver
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"


def spark_conf() -> dict[str, str]:
    """Session settings that keep every file Spark writes in the cache."""
    return {
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the whole heap committed up front: the JVM's share of peak RSS
        # then does not depend on when the collector grows the heap
        "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
    }


# --------------------------------------------------------------------------
# per-seed inputs
# --------------------------------------------------------------------------

def _select(docs: list[dict], rng: random.Random, pages: int,
            area: dict[str, int]) -> list[dict]:
    """Documents holding exactly `pages` image pages. Of CANDIDATES seeded
    shuffles, the one whose pixel count is nearest the pool's mean page
    times `pages` wins, so the amount of work barely varies by seed."""
    target = pages * sum(area.values()) / len(area)
    best = None
    for _ in range(CANDIDATES):
        order = list(docs)
        rng.shuffle(order)
        out, n = [], 0
        for d in order:
            refs = [s["media_ref"] for s in d["spans"] if s["kind"] == "image"]
            if n + len(refs) <= pages:
                out.append(d)
                n += len(refs)
            if n == pages:
                break
        else:
            raise ValueError(f"pool too small for {pages} pages")
        miss = abs(sum(area[s["media_ref"]] for d in out for s in d["spans"]
                       if s["kind"] == "image") - target)
        if best is None or miss < best[0]:
            best = (miss, out)
    return best[1]


def _snake(k: int, files: int) -> int:
    """File of the k-th group in size order: 0..F-1, then F-1..0, ..."""
    return k % files if (k // files) % 2 == 0 else files - 1 - k % files


def materialize(corpus: str, seed: int, pages: int, files: int,
                corrupt_frac: float = 0.0) -> str:
    """Write (or reuse) the inputs for one (corpus, seed, size) and return
    their directory: documents/, media/ and expected.json."""
    key = f"{corpus}-s{seed}-p{pages}-f{files}-c{corrupt_frac}"
    final = os.path.join(CACHE, f"inputs-v{INPUT_FORMAT}", key)
    if os.path.exists(final):
        return final
    rng = random.Random(f"{corpus}:{seed}")
    pool = pool_dir("codec" if corpus == "codec" else "raw")
    raw_media = read_media(os.path.join(pool_dir("raw"), "media.parquet"))
    area = {k: r["width"] * r["height"] for k, r in raw_media.items()}
    with open(os.path.join(pool, "docs.json")) as f:
        pool_docs = json.load(f)
    area = {s["media_ref"]: area[s["media_ref"]] for d in pool_docs
            for s in d["spans"] if s["kind"] == "image"}
    docs = sorted(_select(pool_docs, rng, pages, area),
                  key=lambda d: d["doc_id"])
    refs = sorted((s["media_ref"] for d in docs for s in d["spans"]
                   if s["kind"] == "image"), key=lambda r: (area[r], r))
    # Pages in size order form groups: on the codec corpus each group of
    # len(CODECS) carries every codec once, in a seeded order. Groups go
    # to files in snake order, so every codec and every file get the same
    # amount of work.
    names = list(CODECS)
    group = len(names) if corpus == "codec" else 1
    codec_of, file_of = {}, {}
    for k in range(0, len(refs), group):
        order = rng.sample(names, len(names)) if corpus == "codec" else ["raw"]
        for r, name in zip(refs[k:k + group], order):
            codec_of[r] = name
            file_of[r] = _snake(k // group, files)
    n_corrupt = max(1, round(corrupt_frac * pages)) if corrupt_frac else 0
    corrupt = set(rng.sample(refs, n_corrupt))

    media_src, oracle = {}, {}
    for name in set(codec_of.values()):
        suffix = "" if name == "raw" else f"-{name}"
        media_src[name] = raw_media if name == "raw" else read_media(
            os.path.join(pool, f"media{suffix}.parquet"))
        with open(os.path.join(pool, f"oracle{suffix}.json")) as f:
            oracle[name] = json.load(f)

    tmp = final + f".tmp{os.getpid()}"
    os.makedirs(os.path.join(tmp, "media"))
    os.makedirs(os.path.join(tmp, "documents"))
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.Table.from_pylist(docs, schema=documents_schema()),
                   os.path.join(tmp, "documents", "part-00000.parquet"),
                   compression="zstd")
    parts: list[list[dict]] = [[] for _ in range(files)]
    for r in refs:
        row = dict(media_src[codec_of[r]][r])
        if r in corrupt:
            row["payload"] = row["payload"][:len(row["payload"]) // 2]
        parts[file_of[r]].append(row)
    for i, rows in enumerate(parts):
        _write_media(rows, os.path.join(tmp, "media",
                                        f"part-{i:05d}.parquet"))

    span_rows, hier_sum, hier_rows = [], 0, 0
    for d in docs:
        out = []
        for s in sorted(d["spans"], key=lambda s: s["offset"]):
            if s["kind"] == "text":
                out.append(["text", s["text"], None])
            elif s["media_ref"] in corrupt:
                out.append(["error", None, s["media_ref"]])
            else:
                o = oracle[codec_of[s["media_ref"]]][s["media_ref"]]
                out.extend(o["spans"])
                hier_sum += o["hier"][0]
                hier_rows += o["hier"][1]
        span_rows += [(d["doc_id"], i, k, t, m)
                      for i, (k, t, m) in enumerate(out)]
    expected = {
        "n_docs": len(docs), "n_pages": len(refs),
        "span_hash": span_hash(span_rows), "span_rows": len(span_rows),
        "hier": [hier_sum % (1 << 64), hier_rows],
        "corrupt": sorted(corrupt), "codec_of": codec_of,
    }
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)
    _commit(tmp, final)
    return final


def main() -> None:
    set_env()
    t0 = time.time()
    build_raw_pool()
    build_codec_pool()
    print(f"pools ready in {time.time() - t0:.1f} s", file=sys.stderr)


if __name__ == "__main__":
    main()
