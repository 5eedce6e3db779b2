"""Output checks for one finished crawl, against ``SequentialOracle``.

The oracle replays the reference's single-threaded scheduling over the same
page corpus and ``CrawlConfig``; the engine must match it exactly.  The checks
run after the timed region and never touch the clock.
"""

from __future__ import annotations

import csv
import glob
import os
from collections import Counter


def oracle_reference(corpus, seeds, cfg):
    """Run the sequential oracle once for a corpus and crawl config."""
    from google_maps_scraper_spark.plans.oracle import SequentialOracle

    pages = {p["url"]: p["html"] for p in corpus.pages}
    return SequentialOracle(
        pages,
        extract_email=cfg.extract_email,
        extra_reviews=cfg.extra_reviews,
        now_micros=cfg.now_micros,
    ).run(seeds)


def expected_csv_rows(oracle) -> Counter:
    from google_maps_scraper_spark.extract.canonical import entry_csv_row

    return Counter(tuple(entry_csv_row(r["entry"])) for r in oracle.results)


def read_csv_rows(path: str) -> tuple[list[list[str]], Counter]:
    """Headers of every part file and the multiset of data rows."""
    headers, rows = [], Counter()
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(part, newline="", encoding="utf-8") as fh:
            reader = csv.reader(fh)
            head = next(reader, None)
            if head is not None:
                headers.append(head)
            rows.update(tuple(r) for r in reader)
    return headers, rows


def check_crawl(eng, counters: dict, csv_path: str, oracle, csv_expected: Counter) -> list[str]:
    """Return the list of mismatches (empty when the crawl is correct)."""
    from google_maps_scraper_spark.extract.canonical import entry_csv_headers

    problems: list[str] = []
    got = {
        r["link"]: r["canonical_json"]
        for r in eng.results.select("link", "canonical_json").collect()
    }
    want = {r["entry"]["link"]: r["canonical_json"] for r in oracle.results}
    if set(got) != set(want):
        problems.append(
            f"result links differ: {len(set(got) - set(want))} extra, "
            f"{len(set(want) - set(got))} missing"
        )
    bad = [k for k in want if k in got and got[k] != want[k]]
    if bad:
        problems.append(f"canonical JSON differs for {len(bad)} links, e.g. {bad[0]}")

    seen = {
        (r["url"], r["admitting_parent"])
        for r in eng.seen.select("url", "admitting_parent").collect()
    }
    admitted = {(u, p) for u, ok, p in oracle.seen_decisions if ok}
    if seen != admitted:
        problems.append(
            f"seen set differs: {len(seen - admitted)} extra, {len(admitted - seen)} missing"
        )

    for key, value in sorted(counters.items()):
        if key.endswith("_new") and value:
            problems.append(f"counter {key}={value}: frontier not drained")
    if counters.get("results") != len(want):
        problems.append(f"counter results={counters.get('results')} != {len(want)}")
    if counters.get("seen") != len(admitted):
        problems.append(f"counter seen={counters.get('seen')} != {len(admitted)}")

    headers, rows = read_csv_rows(csv_path)
    if not headers or any(h != entry_csv_headers() for h in headers):
        problems.append("CSV header missing or wrong")
    if rows != csv_expected:
        problems.append(
            f"CSV rows differ: {sum((rows - csv_expected).values())} extra, "
            f"{sum((csv_expected - rows).values())} missing"
        )
    return problems
