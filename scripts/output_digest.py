#!/usr/bin/env python
"""Per-field output digests of the extraction kernel, for byte-parity
checks between two commits.

Runs kernel-side (no Spark session) over a ``documents.parquet`` table:
every document is rendered in each layout family (plain, noisy, multi,
adversarial, crossed), extracted with the fix suite off and on, and each
field of ``extract_document``'s result — every ``EXTRACTED_SCHEMA`` column
but ``partition_id``, plus ``block_types`` and ``article_rows`` — is folded
into one md5 per (family, clean, field), in ``doc_id`` order.  Run it at
both commits and diff the output::

    python scripts/output_digest.py [sf_dir] [--docs N] [--procs N]

``sf_dir`` defaults to ``/root/testdata/sf0.1``; ``--docs`` keeps the
first N documents by ``doc_id``.  The last line is a digest of all lines
above it.
"""

from __future__ import annotations

import argparse
import hashlib
import multiprocessing as mp
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: family → generate_page flags (the pages_from_documents variants)
FAMILIES = {
    "plain": {},
    "noisy": {"noisy": True},
    "multi": {"multi_article": True},
    "adversarial": {"adversarial": True},
    "crossed": {"noisy": True, "adversarial": True, "multi_article": True},
}


def fields() -> list[str]:
    from osdocr_spark.spark.stages import EXTRACTED_SCHEMA
    return ([f.name for f in EXTRACTED_SCHEMA.fields if f.name != "partition_id"]
            + ["block_types", "article_rows"])


def doc_digests(args: tuple[int, str, list[str]]) -> list[bytes]:
    """For one document: an md5 per (family, clean, field), in order."""
    from osdocr_spark.kernels.corpus import generate_page
    from osdocr_spark.kernels.pipeline import extract_html

    doc_id, text, names = args
    out = []
    for kw in FAMILIES.values():
        page = generate_page(doc_id, text, **kw)
        for clean in (False, True):
            r = extract_html(str(doc_id), page, clean=clean)
            out.extend(hashlib.md5(repr(r[n]).encode()).digest() for n in names)
    return out


def main() -> int:
    import duckdb

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--docs", type=int, default=None)
    ap.add_argument("--procs", type=int, default=4)
    a = ap.parse_args()

    limit = f" limit {a.docs}" if a.docs else ""
    rows = duckdb.sql(f"select doc_id, text from '{a.sf_dir}/documents.parquet' "
                      f"order by doc_id{limit}").fetchall()
    names = fields()
    keys = [(fam, clean, n) for fam in FAMILIES for clean in (False, True)
            for n in names]
    acc = [hashlib.md5() for _ in keys]
    with mp.Pool(a.procs) as pool:
        for digests in pool.imap(doc_digests, [(d, t, names) for d, t in rows],
                                 chunksize=16):
            for h, dg in zip(acc, digests):
                h.update(dg)
    total = hashlib.md5()
    for (fam, clean, n), h in zip(keys, acc):
        line = f"{fam:<12} clean={clean!s:<5} {n:<17} {h.hexdigest()}"
        total.update(line.encode())
        print(line)
    print(f"all {len(rows)} docs x {len(FAMILIES)} families x 2 {total.hexdigest()}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
