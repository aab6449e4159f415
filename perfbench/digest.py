"""Correctness gate: crawl results against the sequential oracle.

The oracle (``crawler_spark.oracle.crawl_oracle``) replays a crawl in
plain Python; that takes seconds per web, so its result is reduced to a
digest and cached per seed under ``perfbench/digests/``. A cached digest is used
only if it was computed for the same web and crawl (``workloads.WEB``).

Fill the cache ahead of time with::

    python3 perfbench/digest.py 0 99
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DIGEST_DIR = os.path.join(HERE, "digests")
FORMAT = 1


def crawl_digest(order_rows, seen_urls) -> dict:
    """Digest of a crawl: its (seq, url, epoch) rows in the order given —
    callers pass them in seq order, so a swap of two rows changes it — and
    its URL-seen set, order-free."""
    h = hashlib.sha256()
    n_order = 0
    for seq, url, epoch in order_rows:
        h.update(f"{seq}\t{url}\t{epoch}\n".encode())
        n_order += 1
    seen = sorted(seen_urls)
    s = hashlib.sha256("\n".join(seen).encode())
    return {
        "order_sha256": h.hexdigest(), "n_order": n_order,
        "seen_sha256": s.hexdigest(), "n_seen": len(seen),
    }


def mismatches(expected: dict, got: dict) -> list:
    """Names of the digest fields that differ; empty when the crawl matches."""
    return [k for k in ("order_sha256", "n_order", "seen_sha256", "n_seen")
            if expected[k] != got[k]]


def oracle_digest(seed: int) -> dict:
    from crawler_spark.oracle import crawl_oracle
    from crawler_spark.synth import robots_rows

    from perfbench.workloads import WEB, crawl_web

    cfg, seeds = crawl_web(seed)
    res = crawl_oracle(
        cfg, seeds, robots_rows(cfg),
        max_epochs=WEB["epochs"], epoch_ms=WEB["epoch_ms"],
    )
    return crawl_digest(
        ((seq, url, epoch) for seq, url, epoch, _host in res.crawl_order),
        res.url_seen,
    )


def cached_digest(seed: int) -> dict:
    """The oracle digest of the crawl of ``WEB`` at *seed*, from the
    cache when it was made for the current ``WEB``, else computed and
    stored."""
    from perfbench.workloads import WEB

    path = os.path.join(DIGEST_DIR, f"seed-{seed}.json")
    try:
        with open(path) as f:
            rec = json.load(f)
        if rec.get("format") == FORMAT and rec.get("shape") == WEB:
            return rec["digest"]
    except (OSError, ValueError):
        pass
    digest = oracle_digest(seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump({"format": FORMAT, "shape": WEB, "seed": seed,
                   "digest": digest}, f, indent=1, sort_keys=True)
        f.write("\n")
    os.replace(tmp, path)
    return digest


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    lo, hi = int(sys.argv[1]), int(sys.argv[2])
    for seed in range(lo, hi + 1):
        d = cached_digest(seed)
        print(seed, d["n_order"], d["n_seen"], flush=True)
