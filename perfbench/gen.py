"""Deterministic input generators for the graft benchmark.

Two input sets:

* ``catalog_tables`` writes the two tables the curation queries read,
  ``documents`` and ``embeddings``, one parquet file and one row group
  each, in the schema of the engine's test data. The catalog digest table
  is recorded against these exact tables, so they are always made from
  ``CATALOG_SEED``; a run's ``--seed`` only permutes query order.
* ``provider_inputs`` writes what a vunnel-shaped provider run consumes:
  alpine-style secdb ``security.json`` documents (release x repo), NVD API
  pages of ``NVD_PAGE`` CVEs each, a fix-date dimension, the refresh
  batch (one release re-shipped with new secfixes, one NVD page of
  modified and new CVEs), the final state of every input (what a
  from-scratch sync of the refreshed data would read) and the expected
  row counts. Everything here follows ``--seed``.

Same seed, same bytes: every value comes from a string-seeded
``random.Random`` and files are written in a fixed order and format.
"""
import json
import os
import random

CATALOG_SEED = 42
CATALOG_SIZES = {"documents": 5000, "embeddings": 2000}   # sf0.1
EMBED_DIM = 64

NVD_PAGE = 2000          # resultsPerPage of the NVD 2.0 API
NVD_FULL_PAGES = 2       # 4,000 CVEs in the full sync
NVD_INCR_CVES = 80       # CVEs in the incremental page (store is 50x)
NVD_INCR_NEW = 8         # of which brand-new CVEs
SECDB_RELEASES = ["3.18", "3.19"]
SECDB_REPOS = ["main", "community"]
SECDB_PACKAGES = 100     # packages per (release, repo) document

_WORDS = (  # the sf0.1 vocabulary
          "key agg row scan slow fast table value part hash merge batch "
          "spark a the line sort window join small big data column order "
          "group filter query customer stream vector").split()
_LANGS = ["en"] * 8 + ["zh", "es", "de", "fr"] * 3   # 40% en, as sf0.1


def _rng(*parts):
    return random.Random("|".join(str(p) for p in parts))


# ---------------------------------------------------------------------------
# catalog tables
# ---------------------------------------------------------------------------

def catalog_tables(out_dir):
    """Write the catalog tables under ``out_dir``; returns the table names.

    The shape is the engine's sf0.1 test data: 5,000 documents of 10 to 100
    words drawn uniformly from its 31-word vocabulary, a handful of exact
    re-crawls, 40% English, 20 sources; 2,000 unit-norm 64-d embeddings
    in 10 weakly separated labels."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n = CATALOG_SIZES
    tables = {}
    r = _rng("catalog", CATALOG_SEED, "documents")
    d = range(n["documents"])
    texts = []
    for i in d:
        if i and r.random() < 0.002:
            texts.append(texts[r.randrange(i)])
        else:
            texts.append(" ".join(r.choice(_WORDS)
                                  for _ in range(r.randint(10, 100))))
    tables["documents"] = {
        "doc_id": pa.array(d, pa.int64()),
        "text": texts,
        "lang": [r.choice(_LANGS) for _ in d],
        "source": [f"src{i % 20}" for i in d],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())}

    # each vector is a label direction (weight 0.6) plus unit Gaussian
    # noise per dimension, normalised: labels are there for the
    # classifier and clustering, but only weakly, as in sf0.1
    r = _rng("catalog", CATALOG_SEED, "embeddings")
    centres = []
    for _ in range(10):
        c = [r.gauss(0, 1) for _ in range(EMBED_DIM)]
        norm = sum(x * x for x in c) ** 0.5
        centres.append([0.6 * x / norm for x in c])
    labels, vecs = [], []
    for _ in range(n["embeddings"]):
        lab = r.randrange(10)
        v = [x + r.gauss(0, 1) for x in centres[lab]]
        norm = sum(x * x for x in v) ** 0.5
        labels.append(lab)
        vecs.append([round(x / norm, 7) for x in v])
    tables["embeddings"] = {
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}

    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
    return sorted(tables)


# ---------------------------------------------------------------------------
# provider inputs
# ---------------------------------------------------------------------------

def _cve_universe(seed, n):
    """``n`` distinct CVE ids, deterministic for ``seed``."""
    r = _rng("cves", seed)
    ids = set()
    while len(ids) < n:
        ids.add(f"CVE-{r.randrange(2015, 2026)}-{r.randrange(1000, 60000)}")
    out = sorted(ids)
    r.shuffle(out)
    return out


def _nvd_record(r, cve_id, version):
    """One NVD 2.0 API ``vulnerabilities[]`` entry; ``version`` > 0 marks a
    modified revision (later lastModified, one more reference)."""
    vendor = f"vendor{r.randrange(40)}"
    product = f"product{r.randrange(200)}"
    matches = []
    for k in range(r.randrange(1, 4)):
        fix = f"{r.randrange(1, 9)}.{r.randrange(20)}.{r.randrange(30)}"
        matches.append({
            "vulnerable": k == 0 or r.random() < 0.6,
            "criteria": f"cpe:2.3:a:{vendor}:{product}{k}:*:*:*:*:*:*:*:*",
            "versionEndExcluding": fix,
            "matchCriteriaId": f"{r.getrandbits(64):016X}"})
    score = round(r.uniform(1.0, 9.9), 1)
    refs = [{"url": f"https://{vendor}.example/advisory/{cve_id}/{i}",
             "source": f"{vendor}@example.invalid"}
            for i in range(r.randrange(1, 4) + version)]
    return {"cve": {
        "id": cve_id,
        "sourceIdentifier": "cve@example.invalid",
        "published": f"20{r.randrange(15, 25)}-0{r.randrange(1, 10)}-1"
                     f"{r.randrange(10)}T00:00:00.000",
        "lastModified": f"2025-0{1 + version}-1{r.randrange(10)}"
                        f"T{r.randrange(10, 24)}:00:00.000",
        "vulnStatus": "Modified" if version else "Analyzed",
        "descriptions": [{"lang": "en", "value":
                          f"{product} before the fixed release mishandles "
                          f"{r.choice(_WORDS)} input (revision {version})."}],
        "metrics": {"cvssMetricV31": [{
            "source": "nvd@nist.gov", "type": "Primary",
            "cvssData": {"version": "3.1", "baseScore": score,
                         "vectorString": "CVSS:3.1/AV:N/AC:L/PR:N/UI:N/"
                                         "S:U/C:H/I:N/A:N"},
            "exploitabilityScore": 3.9, "impactScore": 3.6}]},
        "configurations": [{"nodes": [{
            "operator": "OR", "negate": False, "cpeMatch": matches}]}],
        "references": refs}}


def _nvd_page(records, total):
    return {"resultsPerPage": NVD_PAGE, "startIndex": 0,
            "totalResults": total, "format": "NVD_CVE",
            "version": "2.0", "vulnerabilities": records}


def _secdb_doc(reponame, packages):
    return {"apkurl": "{{urlprefix}}/{{distroversion}}/{{reponame}}/"
                      "{{arch}}/{{pkg.name}}-{{pkg.ver}}.apk",
            "archs": ["x86_64", "aarch64"], "reponame": reponame,
            "urlprefix": "https://packages.example.invalid",
            "packages": [{"pkg": {"name": name, "secfixes": fixes}}
                         for name, fixes in packages]}


def _write_json(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, separators=(",", ":"))


def provider_inputs(seed, out_dir):
    """Write one provider-refresh input set under ``out_dir``.

    Layout: ``full/secdb/<release>/<repo>.json``, ``full/nvd/page-*.json``,
    ``round/secdb/<release>/<repo>.json`` (the re-shipped release's
    documents), ``round/nvd/page.json``, ``final/...`` (full sync plus the
    refresh batch), ``fixdates.jsonl`` and ``expected.json``. Every refresh
    round applies the same batch, so the final state does not depend on
    how many rounds a run makes. Returns the expected-counts dict.
    """
    n_full = NVD_PAGE * NVD_FULL_PAGES
    universe = _cve_universe(seed, n_full + NVD_INCR_NEW)
    full_ids, new_ids = universe[:n_full], universe[n_full:]

    # --- NVD: full pages, the refresh page, final state
    latest = {}
    for cid in full_ids:
        latest[cid] = _nvd_record(_rng("nvd", seed, cid, 0), cid, 0)
    for p in range(NVD_FULL_PAGES):
        recs = [latest[c] for c in full_ids[p * NVD_PAGE:(p + 1) * NVD_PAGE]]
        _write_json(os.path.join(out_dir, "full", "nvd", f"page-{p}.json"),
                    _nvd_page(recs, n_full))
    r = _rng("nvd-round", seed)
    modified = r.sample(full_ids, NVD_INCR_CVES - NVD_INCR_NEW)
    recs = []
    for cid in modified + new_ids:
        latest[cid] = _nvd_record(_rng("nvd", seed, cid, 1), cid,
                                  1 if cid in latest else 0)
        recs.append(latest[cid])
    _write_json(os.path.join(out_dir, "round", "nvd", "page.json"),
                _nvd_page(recs, len(recs)))
    final_ids = sorted(latest)
    for p in range(0, len(final_ids), NVD_PAGE):
        _write_json(os.path.join(out_dir, "final", "nvd",
                                 f"page-{p // NVD_PAGE}.json"),
                    _nvd_page([latest[c] for c in final_ids[p:p + NVD_PAGE]],
                              len(final_ids)))

    # --- fix-date dimension over the vulnerable cpeMatches of the latest
    # records (the "first observed" dates a fixdater would hold)
    r = _rng("fixdates", seed)
    with open(os.path.join(out_dir, "fixdates.jsonl"), "w",
              encoding="utf-8") as f:
        for cid in final_ids:
            for node in latest[cid]["cve"]["configurations"][0]["nodes"]:
                for m in node["cpeMatch"]:
                    if m["vulnerable"] and r.random() < 0.5:
                        f.write(json.dumps({
                            "vuln": cid, "cpe": m["criteria"],
                            "version": m["versionEndExcluding"],
                            "date": f"202{r.randrange(5)}-0{r.randrange(1, 10)}"
                                    f"-1{r.randrange(10)}",
                            "kind": r.choice(["first-observed",
                                              "advisory"])},
                            separators=(",", ":")) + "\n")

    # --- secdb: release x repo documents; the refresh re-ships one
    # release with new secfixes added (never removed, as alpine does)
    secdb_pool = universe[: n_full // 2]
    docs = {}
    for rel in SECDB_RELEASES:
        for repo in SECDB_REPOS:
            r = _rng("secdb", seed, rel, repo)
            pkgs = []
            for i in range(SECDB_PACKAGES):
                fixes = {}
                for _ in range(r.randrange(1, 4)):
                    ver = (f"{r.randrange(1, 6)}.{r.randrange(30)}."
                           f"{r.randrange(20)}-r{r.randrange(6)}")
                    ids = [r.choice(secdb_pool)
                           for _ in range(r.randrange(1, 4))]
                    if r.random() < 0.1:   # non-CVE ids the provider drops
                        ids.append(f"GHSA-{r.getrandbits(20):05x}-xxxx")
                    fixes[ver] = [" ".join(ids)]
                if r.random() < 0.05:      # NAK sentinel
                    fixes["0"] = [r.choice(secdb_pool)]
                pkgs.append([f"{repo}-pkg{i}", fixes])
            docs[(rel, repo)] = pkgs

    def write_release(base, rel):
        for repo in SECDB_REPOS:
            _write_json(os.path.join(base, "secdb", rel, f"{repo}.json"),
                        _secdb_doc(repo, docs[(rel, repo)]))

    for rel in SECDB_RELEASES:
        write_release(os.path.join(out_dir, "full"), rel)
    r = _rng("secdb-round", seed)
    rel, repo = r.choice(SECDB_RELEASES), r.choice(SECDB_REPOS)
    pkgs = docs[(rel, repo)]
    for _ in range(10):
        name, fixes = pkgs[r.randrange(len(pkgs))]
        fixes[f"9.{r.randrange(100)}.{r.randrange(100)}-r0"] = [
            r.choice(universe)]
    write_release(os.path.join(out_dir, "round"), rel)
    for rel_ in SECDB_RELEASES:
        write_release(os.path.join(out_dir, "final"), rel_)

    secdb_rows = 0
    for rel_ in SECDB_RELEASES:
        ids = set()
        for repo_ in SECDB_REPOS:
            for _, fixes in docs[(rel_, repo_)]:
                for vs in fixes.values():
                    ids.update(v for s in vs for v in s.split()
                               if v.startswith("CVE-"))
        secdb_rows += len(ids)
    expected = {"seed": seed, "nvd_rows": len(final_ids),
                "secdb_rows": secdb_rows, "releases": SECDB_RELEASES,
                "round": {"release": rel, "repo": repo}}
    with open(os.path.join(out_dir, "expected.json"), "w",
              encoding="utf-8") as f:
        json.dump(expected, f, sort_keys=True)
    return expected
