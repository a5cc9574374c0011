"""Seeded inputs and output checks, built on `pcompress_spark.datagen`.

Every doc is a pure function of its index (datagen.gen_doc), and datagen
blocks of 1000 docs are self-contained: a planted duplicate's generator
source always lies in its own block. A seed therefore picks a block, and
the workload's docs are an index set inside that block — urls, doc_ids and
bucket layout change with the seed while the planted classes stay the
same.
"""

from __future__ import annotations

import difflib
import hashlib
import os

import pandas as pd

from pcompress_spark import datagen

BLOCK = datagen.BLOCK
# seeds map onto this many distinct blocks (doc indices stay < 10^8, well
# inside datagen's 10-digit url field)
N_BLOCKS = 100_000

# planted classes whose pairs the pipeline must find every time: exact
# copies, 5-10% edits and verbatim spans of at least the pipeline's
# substring_min_len. near_lo pairs sit at J in [0.4, 0.6) by construction
# and some truly fall below tau. datagen aims substring spans at 2300
# chars, but a span of short (zh) tokens near the end of its source can
# come out shorter than substring_min_len: such a pair is below the
# threshold too, and counts toward recall only.
MUST_FIND = ("exact", "near_hi", "substring")
SUBSTRING_MIN_LEN = 2048  # PipelineConfig.substring_min_len


def block_offset(seed: int, blocks: int = 1) -> int:
    """First doc index of the run of `blocks` blocks that `seed` selects."""
    return (seed % N_BLOCKS) * blocks * BLOCK


def block_indices(seed: int, keep=lambda local: True, blocks: int = 1) -> list[int]:
    """Doc indices of the seed's `blocks` blocks whose in-block index
    passes `keep`."""
    base = block_offset(seed, blocks)
    return [base + j for j in range(blocks * BLOCK) if keep(j % BLOCK)]


def planted_source(i: int) -> int | None:
    """The doc that datagen generated doc `i` from, or None for docs with
    no generator source (unique and boilerplate docs). Chained near_lo
    docs mutate the previous near_lo doc; every other planted class copies
    or edits `datagen._base_index(i)`."""
    cls = datagen._doc_class(i)
    if cls in ("unique", "boilerplate"):
        return None
    local = i % BLOCK
    if (
        cls == "near_lo"
        and (local - datagen._NEARHI_END) % 3 == 2
        and local - 1 >= datagen._NEARHI_END
    ):
        return i - 1
    return datagen._base_index(i)


def planted_root(i: int) -> int:
    """The unique doc at the end of `i`'s chain of sources (`i` itself for
    docs without one). Docs sharing a root are one planted group."""
    src = planted_source(i)
    while src is not None:
        i, src = src, planted_source(src)
    return i


def planted_pairs(indices) -> list[tuple[int, int, str]]:
    """(doc, source, class) for every doc whose source is also present."""
    present = set(indices)
    out = []
    for i in sorted(present):
        src = planted_source(i)
        if src is not None and src in present:
            out.append((i, src, datagen._doc_class(i)))
    return out


def shared_span_chars(i: int, j: int) -> int:
    """Characters of the longest run of consecutive tokens docs `i` and
    `j` share verbatim (tokens joined by single spaces, as in their text)."""
    a, b = datagen.gen_tokens(i)[0], datagen.gen_tokens(j)[0]
    m = difflib.SequenceMatcher(None, a, b, autojunk=False).find_longest_match(
        0, len(a), 0, len(b)
    )
    return max(0, sum(len(t) + 1 for t in a[m.a : m.a + m.size]) - 1)


def must_find(i: int, src: int, cls: str, substring_min_len: int) -> bool:
    if cls == "substring":
        return shared_span_chars(i, src) >= substring_min_len
    return cls in MUST_FIND


def index_of_url(url: str) -> int:
    """datagen urls end in the zero-padded doc index."""
    return int(url.rsplit("/", 1)[1])


def cached_pages(cache_dir: str, key: str, indices) -> str:
    """Parquet path of the pages for `indices`, generated once per key.

    Written with pyarrow in this process (no Spark job), so a cache miss
    costs generation only and never warms the engine before a timed run."""
    path = os.path.join(cache_dir, f"{key}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        pages_frame(indices).to_parquet(tmp, index=False, coerce_timestamps="us")
        os.replace(tmp, path)
    return path


def pages_frame(indices) -> pd.DataFrame:
    """datagen's pandas `pages` frame for the doc indices `indices`: the
    contiguous range they span, generated by datagen.gen_pages_pandas,
    filtered to the requested docs."""
    indices = sorted(indices)
    lo, hi = indices[0], indices[-1]
    df = datagen.gen_pages_pandas(hi - lo + 1, lo)
    keep = pd.Series(range(lo, hi + 1)).isin(set(indices))
    return df[keep.values].reset_index(drop=True)


def package_digest() -> str:
    """Digest of the pcompress_spark sources. It keys caches of program
    output, so a code change rebuilds them."""
    root = os.path.dirname(datagen.__file__)
    h = hashlib.sha256()
    for dirpath, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(dirpath, n)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def check_clusters(
    cluster_of: dict[int, int], indices, substring_min_len: int = SUBSTRING_MIN_LEN
) -> tuple[dict[str, tuple[int, int]], list[str]]:
    """Grade cluster labels (doc index -> cluster id) against the planted
    structure of `indices`.

    Returns ({class: (found, planted)}, failures). Failures:
    - a doc of `indices` has no label;
    - a planted pair of a MUST_FIND class is not co-clustered (substring
      pairs only when their shared span reaches `substring_min_len`);
    - a cluster holds docs of two planted groups (docs with different
      planted roots). Boilerplate docs share one large block by design and
      are left out of this check.
    """
    indices = list(indices)
    failures = []
    missing = [i for i in indices if i not in cluster_of]
    if missing:
        failures.append(f"{len(missing)} docs unassigned, e.g. {missing[:3]}")
        return {}, failures
    pairs = planted_pairs(indices)
    by_class: dict[str, tuple[int, int]] = {}
    split: dict[str, int] = {}
    for i, src, cls in pairs:
        same = cluster_of[i] == cluster_of[src]
        found, total = by_class.get(cls, (0, 0))
        by_class[cls] = (found + same, total + 1)
        if not same and must_find(i, src, cls, substring_min_len):
            split[cls] = split.get(cls, 0) + 1
    for cls, n in split.items():
        failures.append(f"{cls}: {n} of {by_class[cls][1]} planted pairs split")

    groups_in: dict[int, set[int]] = {}
    for i in indices:
        if datagen._doc_class(i) != "boilerplate":
            groups_in.setdefault(cluster_of[i], set()).add(planted_root(i))
    merged = [c for c, g in groups_in.items() if len(g) > 1]
    if merged:
        failures.append(f"{len(merged)} clusters merge planted groups")
    return by_class, failures


def recall(by_class: dict[str, tuple[int, int]]) -> float:
    found = sum(f for f, _ in by_class.values())
    total = sum(t for _, t in by_class.values())
    return found / total
