"""Seeded input generators for the validate benchmark, with a verified cache.

Every table is a pure function of (workload, seed, rows, files) and this
file's source: the cache directory name carries all of them, so a table
built for one size, seed or generator version is never read back for
another.  A manifest written after the parquet files records the row
count and a SHA-256 of every file; a cached table is used only if both
still match.

Two table shapes:

* documents (``url, warc_ts, text, text_len, lang, source``): the north
  shape in the validation layout, ``text_len`` stored next to ``text``.
  Texts are drawn per document from per-source pools with their own
  length profiles, so values vary across rows and the fit sample yields
  a real conditional model.  Planted rows are much longer, much shorter
  or much later than the rest.  ``text`` is written dictionary-encoded,
  which keeps generation and disk cost small while the scan still
  decodes full strings.
* conditional (GritBot style): categorical, bool, numeric and timestamp
  columns where each numeric column depends on one categorical one.
  Planted outliers take a value that is ordinary for the whole table but
  extreme inside their own group.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the generator's own source is an input too: editing it must not reuse
# tables an older version wrote
with open(__file__, "rb") as _f:
    GEN_VERSION = hashlib.sha256(_f.read()).hexdigest()[:12]
KEEP_ENTRIES = 4  # cached tables kept per workload; older ones are deleted

WINDOW_START = np.datetime64("2024-01-01T00:00:00", "s")
WINDOW_DAYS = 30
DAY = 24 * 3600
LANGS = ["en", "de", "fr", "es", "zh"]
N_SOURCES = 20

_CONSONANTS = np.array(list("bcdfghjklmnprstvwz"))
_VOWELS = np.array(list("aeiou"))
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """Pronounceable lowercase words of 3 to 9 letters."""
    lens = rng.integers(3, 10, size=n)
    words = []
    for ln in lens:
        c = rng.choice(_CONSONANTS, size=ln)
        v = rng.choice(_VOWELS, size=ln)
        words.append("".join(np.where(np.arange(ln) % 2 == 1, v, c)))
    return np.array(words)


def _texts(rng, vocab, n_words: np.ndarray) -> list[str]:
    """One text per entry of ``n_words``: Zipf-ish vocabulary draws with
    stopwords mixed in, split into lines of about 12 words."""
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    out = []
    for k in n_words:
        w = rng.choice(vocab, size=k, p=p)
        stops = rng.random(k) < 0.12
        w[stops] = rng.choice(STOPWORDS, size=int(stops.sum()))
        lines = [" ".join(w[i:i + 12]) for i in range(0, k, 12)]
        out.append(".\n".join(lines) + ".")
    return out


def _source_words(k: int) -> int:
    """Mean words of source k: five overlapping profiles, 70..86."""
    return 70 + 10 * (k % 5)


# --- documents ---------------------------------------------------------

POOL_PER_SOURCE = 400
LANG_P = [0.45, 0.15, 0.15, 0.15, 0.10]
PLANT = {  # per-row probabilities of each planted outlier
    "late": 0.001,   # warc_ts months past the crawl window
    "huge": 0.003,   # text several times the usual length
    "short": 0.004,  # 10-25 words: fails the Gopher word count
}


def _doc_pools(rng):
    vocab = _vocabulary(rng, 3000)
    pools = []
    for k in range(N_SOURCES):
        m = _source_words(k)
        nw = np.maximum(rng.normal(m, 0.08 * m, POOL_PER_SOURCE).astype(int), 52)
        pools.extend(_texts(rng, vocab, nw))
    huge = _texts(rng, vocab, rng.integers(400, 500, size=64))
    short = _texts(rng, vocab, rng.integers(10, 26, size=64))
    return pools + huge + short, len(pools) + len(huge)


def documents(seed: int, rows: int, id_offset: int = 0,
              pools=None) -> tuple[pa.Table, dict[str, np.ndarray]]:
    """(table, planted doc ids per kind).

    Text length depends on the source through five overlapping profiles
    a few standard deviations apart, crawl times and languages follow one
    table-wide distribution.  The tree splits text length by source, yet
    every cluster's bounds stay beyond the bulk of the table, so the
    prefilter passes only rows near or past the table's extremes."""
    rng = np.random.default_rng([seed, 1])
    pool, huge0 = pools or _doc_pools(np.random.default_rng([seed, 0]))
    ids = np.arange(id_offset, id_offset + rows, dtype=np.int64)
    # mild source skew: low-numbered sources are more common
    sw = 1.0 / np.sqrt(np.arange(1, N_SOURCES + 1))
    src = rng.choice(N_SOURCES, size=rows, p=sw / sw.sum())
    u = rng.random(rows)
    draw, lo = {}, 0.0
    for k, p in PLANT.items():  # one planted kind per row
        draw[k] = (u >= lo) & (u < lo + p)
        lo += p

    secs = rng.integers(0, WINDOW_DAYS * DAY, size=rows)
    secs = np.where(draw["late"],
                    (WINDOW_DAYS + 250) * DAY + rng.integers(0, 20 * DAY, size=rows),
                    secs)
    ts = WINDOW_START + secs.astype("timedelta64[s]")

    tix = src * POOL_PER_SOURCE + rng.integers(0, POOL_PER_SOURCE, size=rows)
    tix = np.where(draw["huge"], huge0 - 64 + rng.integers(0, 64, size=rows), tix)
    tix = np.where(draw["short"], huge0 + rng.integers(0, 64, size=rows), tix)
    dictionary = pa.array(pool, pa.string())
    text = pa.DictionaryArray.from_arrays(pa.array(tix.astype(np.int32)), dictionary)
    text_len = np.array([len(t) for t in pool], dtype=np.float64)[tix]

    lang_ix = rng.choice(len(LANGS), size=rows, p=LANG_P)
    lang = pa.DictionaryArray.from_arrays(pa.array(lang_ix.astype(np.int32)),
                                          pa.array(LANGS))
    source = pa.DictionaryArray.from_arrays(
        pa.array(src.astype(np.int32)),
        pa.array([f"src{k}" for k in range(N_SOURCES)]))
    host = (rng.random(rows) ** 3 * 97).astype(np.int32)
    url = pc.binary_join_element_wise(
        pc.take(pa.array([f"https://host{h}.example.com" for h in range(97)]),
                pa.array(host)),
        pc.cast(pa.array(ids), pa.string()), "/doc/")
    table = pa.table({
        "doc_id": ids, "url": url, "warc_ts": pa.array(ts, pa.timestamp("us")),
        "text": text, "text_len": text_len, "lang": lang, "source": source,
    })
    return table, {k: ids[v] for k, v in draw.items()}


def previous_snapshot(seed: int, current: pa.Table, pools) -> tuple[pa.Table, dict]:
    """The snapshot before ``current``: some rows changed since, some
    removed since (present only here) and some added since (absent here).
    """
    rng = np.random.default_rng([seed, 2])
    n = current.num_rows
    u = rng.random(n)
    added = u < 0.004
    changed = (u >= 0.004) & (u < 0.007)
    prev = current.filter(pa.array(~added))
    ch = changed[~added]
    # a changed row had another text in the previous snapshot
    text = prev.column("text").combine_chunks()
    tix = text.indices.to_numpy(zero_copy_only=False).copy()
    tix[ch] ^= 1  # the neighbouring text of the same pool block
    pool = pools[0]
    new_text = pa.DictionaryArray.from_arrays(pa.array(tix), text.dictionary)
    prev = prev.set_column(prev.schema.get_field_index("text"), "text", new_text)
    lens = np.array([len(t) for t in pool], dtype=np.float64)[tix]
    prev = prev.set_column(prev.schema.get_field_index("text_len"), "text_len",
                           pa.array(lens))
    n_removed = max(1, int(0.002 * n))
    gone, _ = documents(seed + 7919, n_removed,
                        id_offset=int(pc.max(current.column("doc_id")).as_py()) + 1,
                        pools=pools)
    prev = pa.concat_tables([prev, gone.cast(prev.schema)])
    ids = current.column("doc_id").to_numpy()
    return prev, {"changed": ids[changed],
                  "removed": gone.column("doc_id").to_numpy(),
                  "added": ids[added]}


# --- conditional table -------------------------------------------------

TIERS = ["basic", "plus", "pro", "enterprise"]
TIER_P = [0.5, 0.25, 0.17, 0.08]
TIER_AMOUNT = [20.0, 50.0, 120.0, 300.0]
CHANNELS = ["web", "store", "phone", "partner", "app"]
CHANNEL_QTY = [3.0, 8.0, 2.0, 40.0, 1.0]
N_REGIONS = 8
COND_PLANT = 0.0001  # per row, per planted condition (four conditions)


def conditional(seed: int, rows: int) -> tuple[pa.Table, dict[str, np.ndarray]]:
    rng = np.random.default_rng([seed, 3])
    ids = np.arange(rows, dtype=np.int64)
    region = rng.integers(0, N_REGIONS, size=rows)
    tier = rng.choice(len(TIERS), size=rows, p=TIER_P)
    channel = rng.choice(len(CHANNELS), size=rows, p=[0.4, 0.2, 0.15, 0.05, 0.2])
    member = rng.random(rows) < np.array([0.2, 0.5, 0.7, 0.9])[tier]

    amount = np.array(TIER_AMOUNT)[tier] * np.exp(rng.normal(0, 0.08, rows))
    discount = np.where(member, rng.normal(12.0, 1.5, rows),
                        rng.normal(2.0, 0.5, rows))
    qty_mean = np.array(CHANNEL_QTY)[channel]
    quantity = qty_mean * np.exp(rng.normal(0, 0.1, rows))
    secs = region * 3 * DAY + rng.integers(0, 2 * DAY, size=rows)

    planted = {}
    u = rng.random(rows)
    # each condition: a value ordinary for the table, extreme in its group
    m = (u < COND_PLANT) & (tier == 0)
    amount[m] = TIER_AMOUNT[2] * np.exp(rng.normal(0, 0.05, int(m.sum())))
    planted["amount"] = ids[m]
    m = (u >= COND_PLANT) & (u < 2 * COND_PLANT) & ~member
    discount[m] = rng.normal(12.0, 1.0, int(m.sum()))
    planted["discount"] = ids[m]
    m = (u >= 2 * COND_PLANT) & (u < 3 * COND_PLANT) & (channel == 4)
    quantity[m] = CHANNEL_QTY[3] * np.exp(rng.normal(0, 0.05, int(m.sum())))
    planted["quantity"] = ids[m]
    m = (u >= 3 * COND_PLANT) & (u < 4 * COND_PLANT)
    secs[m] = ((region[m] + N_REGIONS // 2) % N_REGIONS) * 3 * DAY + DAY
    planted["event_ts"] = ids[m]

    def dict_col(codes, levels):
        return pa.DictionaryArray.from_arrays(pa.array(codes.astype(np.int32)),
                                              pa.array(levels))

    table = pa.table({
        "id": ids,
        "region": dict_col(region, [f"r{k}" for k in range(N_REGIONS)]),
        "tier": dict_col(tier, TIERS),
        "channel": dict_col(channel, CHANNELS),
        "is_member": member,
        "amount": amount,
        "discount": discount,
        "quantity": quantity,
        "event_ts": pa.array(WINDOW_START + secs.astype("timedelta64[s]"),
                             pa.timestamp("us")),
    })
    return table, planted


# --- cache -------------------------------------------------------------

def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _write_parquet(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"),
                       dictionary_pagesize_limit=64 << 20)


def _verify(entry: str, manifest: dict) -> bool:
    for name, info in manifest["tables"].items():
        path = os.path.join(entry, name)
        rows = 0
        for fn, digest in info["sha256"].items():
            fp = os.path.join(path, fn)
            if not os.path.exists(fp) or _sha256(fp) != digest:
                return False
            rows += pq.ParquetFile(fp).metadata.num_rows
        if rows != info["rows"]:
            return False
    return True


def build(cache_dir: str, workload: str, kind: str, seed: int, rows: int,
          files: int) -> dict:
    """Generate (or reuse) a workload's tables.  Returns the manifest:
    ``tables`` (name -> rows, per-file sha256), ``planted`` (condition ->
    sorted ids) and ``dir``."""
    key = f"{workload}-s{seed}-n{rows}-f{files}-v{GEN_VERSION}"
    entry = os.path.join(cache_dir, key)
    mpath = os.path.join(entry, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if _verify(entry, manifest):
            manifest["dir"] = entry
            return manifest
    shutil.rmtree(entry, ignore_errors=True)
    _evict(cache_dir, workload)

    tables: dict[str, pa.Table] = {}
    if kind == "conditional":
        tables["input"], planted = conditional(seed, rows)
    else:
        pools = _doc_pools(np.random.default_rng([seed, 0]))
        tables["input"], planted = documents(seed, rows, pools=pools)
        tables["previous"], delta = previous_snapshot(seed, tables["input"], pools)
        planted.update({f"snapshot_{k}": v for k, v in delta.items()})
    tmp = entry + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = {"key": key, "tables": {},
                "planted": {k: sorted(int(i) for i in v) for k, v in planted.items()}}
    for name, t in tables.items():
        _write_parquet(t, os.path.join(tmp, name), files)
        manifest["tables"][name] = {
            "rows": t.num_rows,
            "sha256": {fn: _sha256(os.path.join(tmp, name, fn))
                       for fn in sorted(os.listdir(os.path.join(tmp, name)))}}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, entry)
    if not _verify(entry, manifest):
        raise RuntimeError(f"generated table {entry} failed its own check")
    manifest["dir"] = entry
    return manifest


def _evict(cache_dir: str, workload: str) -> None:
    if not os.path.isdir(cache_dir):
        return
    mine = [os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
            if d.startswith(workload + "-s")]
    mine.sort(key=os.path.getmtime)
    for d in mine[:max(0, len(mine) - KEEP_ENTRIES + 1)]:
        shutil.rmtree(d, ignore_errors=True)
