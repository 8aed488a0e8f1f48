"""Seeded input generator: one process writes every input file of a
workload; the engine receives only these files.

    python3 perfbench/gen.py <workload> <seed> <dir>

Files per workload (see README.md for sizes and properties):
  ai_update   crossref/        raw Crossref works-message harvest (NDJSON slices)
              doaj/            DOAJ-shaped intermediate-schema records (NDJSON)
              members.tsv      DOI prefix -> member name
              amsl.tsv         AMSL discovery rows;  kbart/*.tsv holdings
              prefs.tsv        groupcover source preference, best first
  license_tag records/         normalized intermediate-schema records (Parquet)
              amsl.tsv, kbart/*.tsv
  neardup     corpus/          (doc_id, text, quality) as NDJSON slices
              planted.tsv      planted near-duplicate clusters (checker only)
Each directory also gets meta.json with the sizes and key properties.
"""
import json
import math
import random
import sys
from pathlib import Path

import numpy as np

AS_OF = "2026-01-01"

# Sizes and key properties of each workload's inputs; meta.json copies
# them next to the generated files and README.md explains them.
PARAMS = {
    "ai_update": {
        "works": 3000, "redelivery_frac": 0.33, "same_stamp_frac": 0.03,
        "doi_variant_frac": 0.12, "no_doi_frac": 0.01, "bad_title_frac": 0.015,
        "bad_year_frac": 0.01, "doaj_records": 1000, "doaj_crossref_overlap": 0.3,
        "journals": 3000, "prefixes": 40, "kbart_rows": [400, 1500],
        "embargo_frac": 0.2, "open_range_frac": 0.3,
    },
    "license_tag": {
        "records": 60000, "isils": 22, "alternatives": [1, 26],
        "kbart_files": 30, "kbart_rows": [2000, 8000], "journals": 80000,
        "zipf_exponent": 1.1, "embargo_frac": 0.2, "open_range_frac": 0.3,
    },
    "neardup": {
        "docs": 20000, "doc_tokens": [60, 160], "vocabulary": 40000,
        "cluster_doc_frac": 0.12, "cluster_size": [2, 6], "edit_frac": 0.03,
        "hub_families": 3, "hub_size": 200, "hub_template_tokens": 100,
        "hub_unique_tokens": 20,
    },
}

SYLL = ["ka", "lo", "mi", "ne", "su", "ra", "ti", "po", "be", "da", "fu", "ge",
        "hi", "jo", "ku", "le", "mo", "na", "pi", "qu", "ro", "sa", "te", "vu",
        "wa", "xe", "yo", "zi", "an", "el", "in", "or", "us", "et", "al", "om"]


def vocabulary(rng, n):
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(SYLL) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def issn(rng):
    digits = [rng.randint(0, 9) for _ in range(7)]
    s = sum((8 - i) * d for i, d in enumerate(digits))
    check = (11 - s % 11) % 11
    c = "X" if check == 10 else str(check)
    d = "".join(map(str, digits))
    return f"{d[:4]}-{d[4:]}{c}"


def journals(rng, words, n):
    seen, out = set(), []
    while len(out) < n:
        p, e = issn(rng), issn(rng)
        if p in seen or e in seen or p == e:
            continue
        seen.update((p, e))
        title = "Journal of " + " ".join(rng.choice(words).capitalize() for _ in range(2))
        out.append({"print": p, "online": e, "title": title})
    return out


def date_str(rng, y0, y1):
    return f"{rng.randint(y0, y1):04d}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


# --------------------------------------------------------------- KBART

KBART_COLS = ["publication_title", "print_identifier", "online_identifier",
              "date_first_issue_online", "num_first_vol_online",
              "num_first_issue_online", "date_last_issue_online",
              "num_last_vol_online", "num_last_issue_online", "title_url",
              "first_author", "title_id", "embargo_info", "coverage_depth",
              "notes", "publisher_name"]

EMBARGOES = ["R1Y", "R6M", "P2Y", "R30D", "r2y", " R1Y ", "P10Y", "P18M", "R12M", "X5Y", "R"]


def kbart_file(rng, path, chosen, jr, p):
    """One KBART file: a row per chosen journal, some with two coverage
    windows; open ranges, P/R embargoes, print-only or online-only ids."""
    lines = ["\t".join(KBART_COLS)]
    for j in chosen:
        jn = jr[j]
        for _ in range(2 if rng.random() < 0.1 else 1):
            first = "" if rng.random() < 0.1 else date_str(rng, 1950, 2015)
            last = "" if rng.random() < p["open_range_frac"] else date_str(rng, 2000, 2025)
            emb = rng.choice(EMBARGOES) if rng.random() < p["embargo_frac"] else ""
            pid = "" if rng.random() < 0.1 else jn["print"]
            oid = "" if pid and rng.random() < 0.1 else jn["online"]
            lines.append("\t".join([
                jn["title"], pid, oid, first, str(rng.randint(1, 20)), "1", last,
                "", "", f"https://example.org/j/{j}", "", f"t{j}", emb,
                "fulltext", "", "Example Publisher"]))
    Path(path).write_text("\n".join(lines) + "\n")
    return len(lines) - 1


AMSL_COLS = ["isil", "sid", "mega_collection", "technicalCollectionID",
             "linkToHoldingsFile", "linkToContentFile", "externalLinkToContentFile",
             "productISIL", "evaluateHoldingsFileForLibrary"]


PARTS = 8  # input slices per NDJSON/Parquet input, like a harvest's daily files


def write_parts(d, lines):
    """NDJSON lines split into PARTS slice files under directory d."""
    d.mkdir()
    for k in range(PARTS):
        (d / f"part-{k:02d}.ndjson").write_text("".join(ln + "\n" for ln in lines[k::PARTS]))
    return sum(f.stat().st_size for f in d.iterdir())


def write_tsv(path, cols, rows):
    Path(path).write_text("\n".join(["\t".join(cols)] + ["\t".join(r) for r in rows]) + "\n")


# ----------------------------------------------------------- ai_update

GENRES = ["journal-article"] * 6 + ["book-chapter", "proceedings-article", "book",
                                    "dataset", "report", "dissertation", "monograph"]
LANGS = ["en"] * 5 + ["de", "fr", "es", "xx", None]
SUBJECTS = ["Physics", "Chemistry", "History", "Computer Science", "Law", "Medicine",
            "Linguistics", "Economics", "Art", "Biology"]


def gen_ai_update(rng, d, p):
    words = vocabulary(rng, 6000)
    jr = journals(rng, words, p["journals"])
    prefixes = [f"10.{1000 + i}" for i in range(p["prefixes"])]
    members = [(px, f"{rng.choice(words).capitalize()} Press {i}")
               for i, px in enumerate(prefixes) if rng.random() < 0.85]
    write_tsv(d / "members.tsv", ["prefix", "name"], members)

    def text(a, b):
        return " ".join(rng.choice(words) for _ in range(rng.randint(a, b)))

    def variant(doi):
        r = rng.random()
        if r > p["doi_variant_frac"]:
            return doi
        return rng.choice([doi.upper(), "https://doi.org/" + doi,
                           "http://dx.doi.org/" + doi, "HTTPS://DOI.ORG/" + doi])

    def message(doi, stamp, version):
        j = jr[rng.randrange(len(jr))]
        m = {"indexed": {"date-time": stamp, "timestamp": 0},
             "reference-count": rng.randint(0, 80), "publisher": None,
             "DOI": doi, "type": rng.choice(GENRES), "member": str(rng.randint(1, 9000))}
        r = rng.random()
        if r < p["bad_title_frac"]:
            m["title"] = rng.choice([[], [" "], [""]])
        else:
            m["title"] = [text(3, 9).capitalize() + (f" (v{version})" if version else "")]
        if rng.random() < 0.3:
            m["subtitle"] = [rng.choice(["", text(2, 5)])]
        m["container-title"] = [j["title"]]
        m["publisher"] = f"{rng.choice(words).capitalize()} Publishing"
        if rng.random() < 0.9:
            m["volume"] = str(rng.randint(1, 90))
            m["issue"] = str(rng.randint(1, 12))
        sp = rng.randint(1, 900)
        if rng.random() < 0.85:
            m["page"] = rng.choice([f"{sp}-{sp + rng.randint(1, 40)}", str(sp), f"e{sp}"])
        kinds = rng.choice([("print", "electronic"), ("print",), ("electronic",)])
        m["issn-type"] = [{"value": j["print" if k == "print" else "online"], "type": k}
                          for k in kinds]
        y = rng.randint(1950, 2026)
        if rng.random() < p["bad_year_frac"]:
            y = rng.choice([1200, 2100])
        parts = rng.choice([[y], [y, rng.randint(1, 12)], [y, rng.randint(1, 12), rng.randint(1, 28)]])
        m["issued"] = {"date-parts": [parts]}
        if rng.random() < 0.92:
            au = []
            for _ in range(rng.randint(1, 5)):
                if rng.random() < 0.07:
                    au.append({"name": f"{rng.choice(words).capitalize()} Consortium",
                               "sequence": "additional"})
                else:
                    a = {"family": rng.choice(words).capitalize(), "sequence": "first"}
                    if rng.random() < 0.9:
                        a["given"] = rng.choice(words).capitalize()
                    au.append(a)
            m["author"] = au
        if rng.random() < 0.4:
            m["license"] = [{"URL": "https://creativecommons.org/licenses/by/4.0/",
                             "content-version": "vor", "delay-in-days": rng.randint(0, 400)}]
        if rng.random() < 0.7:
            m["subject"] = rng.sample(SUBJECTS, rng.randint(1, 3))
        lang = rng.choice(LANGS)
        if lang:
            m["language"] = lang
        if doi and rng.random() < 0.8:
            m["URL"] = "http://dx.doi.org/" + doi.lower()
        if rng.random() < 0.5:
            m["abstract"] = f"<jats:p>{text(10, 40)}</jats:p>"
        m["score"] = 1.0
        return m

    dois = [f"{rng.choice(prefixes)}/ex.{rng.randint(1990, 2025)}.{i:06d}"
            for i in range(p["works"])]

    def stamp(m0, m1):
        return (f"2025-{rng.randint(m0, m1):02d}-{rng.randint(1, 28):02d}T"
                f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z")

    lines = []
    for doi in dois:
        versions = [stamp(1, 6)]
        if rng.random() < p["redelivery_frac"]:
            same = rng.random() < p["same_stamp_frac"]
            versions.append(versions[0] if same else stamp(7, 12))
        for v, ts in enumerate(versions):
            d_ = None if rng.random() < p["no_doi_frac"] else variant(doi)
            lines.append(json.dumps(message(d_, ts, v), separators=(",", ":")))
    rng.shuffle(lines)
    size = write_parts(d / "crossref", lines)

    doaj = []
    coll = "DOAJ Directory of Open Access Journals"
    for i in range(p["doaj_records"]):
        j = jr[rng.randrange(len(jr))]
        if rng.random() < p["doaj_crossref_overlap"]:
            doi = rng.choice(dois)
            doi = doi.upper() if rng.random() < 0.3 else doi
        elif rng.random() < 0.05:
            doi = None
        else:
            doi = f"10.9999/doaj.{i:06d}"
        rid = f"{rng.getrandbits(48):012x}"
        r = {"finc.format": "ElectronicArticle", "finc.id": f"ai-28-{rid}",
             "finc.mega_collection": [coll], "finc.record_id": rid, "finc.source_id": "28",
             "rft.atitle": text(3, 9).capitalize(), "rft.jtitle": j["title"],
             "rft.issn": [j["print"]], "rft.eissn": [j["online"]] if rng.random() < 0.7 else [],
             "rft.date": date_str(rng, 1995, 2025), "rft.genre": "article",
             "rft.pub": ["DOAJ Publisher"], "rft.volume": str(rng.randint(1, 40)),
             "rft.pages": f"{rng.randint(1, 99)}-{rng.randint(100, 200)}",
             "authors": [{"rft.aulast": rng.choice(words).capitalize(),
                          "rft.aufirst": rng.choice(words).capitalize()}
                         for _ in range(rng.randint(0, 3))],
             "url": [f"https://doaj.org/article/{rid}"], "languages": ["eng"],
             "subjects": rng.sample(SUBJECTS, rng.randint(0, 2)), "x.oa": True}
        if doi:
            r["doi"] = doi
        if rng.random() < 0.5:
            r["abstract"] = text(10, 30)
        if rng.random() < 0.5:
            r["x.labels"] = ["DE-Stale"]
        doaj.append(json.dumps(r, separators=(",", ":")))
    size += write_parts(d / "doaj", doaj)

    (d / "kbart").mkdir()
    files = [f"kbart_{c}.tsv" for c in "abcd"]
    for f in files:
        n = rng.randint(*p["kbart_rows"])
        kbart_file(rng, d / "kbart" / f, rng.sample(range(len(jr)), n), jr, p)
    a, b, c, dd = files
    coll49 = "Crossref"
    rows = [
        ["DE-15", "49", coll49, "", a, "", "", "", "yes"],
        ["DE-15", "28", coll, "", "", "", "", "", ""],
        ["DE-14", "49", coll49, "", b, "", "", "", "yes"],
        ["DE-14", "49", coll49, "", c, "", "", "", "no"],
        ["DE-Ch1", "28", coll, "", "", "", "", "DE-Ch1", ""],
        ["DE-Ch1", "49", coll49, "", "", dd, "", "", ""],
        ["DE-105", "49", coll49, "", "", "", "", "", ""],
        ["DE-105", "28", coll, "", a, "", "", "", "yes"],
        ["DE-L229", "49", coll49, "", b, "", a, "", "yes"],
    ]
    write_tsv(d / "amsl.tsv", AMSL_COLS, rows)
    prefs = ["85", "55", "89", "60", "50", "105", "34", "101", "53", "49", "28", "48", "121"]
    if rng.random() < 0.5:  # which of the two sources wins varies by seed
        prefs = [s for s in prefs if s != "28"]
        prefs.insert(prefs.index("49"), "28")
    write_tsv(d / "prefs.tsv", ["sid"], [[s] for s in prefs])
    return {"input_records": len(lines) + len(doaj), "crossref_lines": len(lines),
            "doaj_records": len(doaj), "input_bytes": size}


# --------------------------------------------------------- license_tag

def gen_license_tag(rng, d, p):
    words = vocabulary(rng, 4000)
    jr = journals(rng, words, p["journals"])
    nrng = np.random.default_rng(rng.getrandbits(32))
    ranks = np.arange(1, len(jr) + 1, dtype=np.float64)
    weights = ranks ** -p["zipf_exponent"]
    weights /= weights.sum()
    perm = nrng.permutation(len(jr))  # which journal is a hub varies by seed

    (d / "kbart").mkdir()
    files, holdings_rows = [], 0
    for f in range(p["kbart_files"]):
        n = rng.randint(*p["kbart_rows"])
        chosen = perm[nrng.choice(len(jr), size=n, replace=False, p=weights)]
        name = f"pkg{f:02d}.tsv"
        holdings_rows += kbart_file(rng, d / "kbart" / name, chosen.tolist(), jr, p)
        files.append(name)

    sources = ["49", "28", "55", "68", "85", "89", "101", "121", "48", "34"]
    colls = {s: [f"Collection {s}-{k}" for k in range(6)] for s in sources}
    rows = []
    for k in range(p["isils"]):
        isil = f"DE-{100 + k}"
        lo, hi = p["alternatives"]
        n_alt = min(hi, max(lo, int(round(nrng.pareto(1.2) * 2)) + 1))
        for _ in range(n_alt):
            sid = rng.choice(sources)
            c = rng.choice(colls[sid])
            tcid = rng.choice(["", "", "", f"tcid-{sid}-{rng.randint(0, 5)}"])
            f1, f2 = rng.sample(files, 2)
            kind = rng.choice(["collect", "collect", "link", "link", "link_no",
                               "content", "external", "link_ext", "link_content"])
            pi = isil if kind in ("collect", "link") and rng.random() < 0.2 else ""
            row = {"collect": [isil, sid, c, tcid, "", "", "", pi, ""],
                   "link": [isil, sid, c, tcid, f1, "", "", pi, "yes"],
                   "link_no": [isil, sid, c, tcid, f1, "", "", "", "no"],
                   "content": [isil, sid, c, "", "", f1, "", "", ""],
                   "external": [isil, sid, c, "", "", "", f1, "", ""],
                   "link_ext": [isil, sid, c, "", f1, "", f2, "", rng.choice(["yes", "yes", "no"])],
                   "link_content": [isil, sid, c, "", f1, f2, "", "", "yes"]}[kind]
            rows.append(row)
    write_tsv(d / "amsl.tsv", AMSL_COLS, rows)

    import pyarrow as pa
    import pyarrow.parquet as pq
    n = p["records"]
    rec_j = perm[nrng.choice(len(jr), size=n, p=weights)]
    ids, sids, megas, iss, eiss, dates, titles = [], [], [], [], [], [], []
    for i in range(n):
        j = jr[rec_j[i]]
        sid = rng.choice(sources)
        ids.append(f"ai-{sid}-{i:07d}")
        sids.append(sid)
        megas.append(rng.sample(colls[sid], rng.randint(1, 2)))
        k = rng.random()
        iss.append([j["print"]] if k < 0.8 else [])
        eiss.append([j["online"]] if k > 0.3 else [])
        dates.append(date_str(rng, 1960, 2025))
        titles.append(f"Article {i}")
    table = pa.table({"finc.id": ids, "finc.source_id": sids, "finc.mega_collection": megas,
                      "rft.issn": iss, "rft.eissn": eiss, "rft.date": dates,
                      "rft.atitle": titles})
    (d / "records").mkdir()
    step = -(-n // PARTS)
    for k in range(PARTS):
        pq.write_table(table.slice(k * step, step), d / "records" / f"part-{k:02d}.parquet")
    return {"input_records": n, "holdings_rows": holdings_rows, "amsl_rows": len(rows),
            "input_bytes": sum(f.stat().st_size for f in (d / "records").iterdir())}


# ------------------------------------------------------------ neardup

def gen_neardup(rng, d, p):
    vocab = vocabulary(rng, p["vocabulary"])
    n = p["docs"]
    texts, clusters = [], []
    hub_n = p["hub_families"] * p["hub_size"]
    planted_docs = int(n * p["cluster_doc_frac"])
    lo, hi = p["doc_tokens"]

    def fresh(k, avoid):
        out = []
        while len(out) < k:
            w = rng.choice(vocab)
            if w not in avoid:
                out.append(w)
                avoid.add(w)
        return out

    while sum(len(c) for c in clusters) < planted_docs:
        base = rng.sample(vocab, rng.randint(lo, hi))
        members = [base]
        for _ in range(rng.randint(*p["cluster_size"]) - 1):
            v = list(base)
            used = set(base)
            k = max(1, math.ceil(p["edit_frac"] * len(v)))
            for pos, w in zip(rng.sample(range(len(v)), k), fresh(k, used)):
                v[pos] = w
            rng.shuffle(v)
            members.append(v)
        clusters.append([len(texts) + i for i in range(len(members))])
        texts.extend(members)
    for f in range(p["hub_families"]):
        template = [f"hub{f}t{k}" for k in range(p["hub_template_tokens"])]
        for m in range(p["hub_size"]):
            doc = template + [f"hub{f}m{m}u{k}" for k in range(p["hub_unique_tokens"])]
            rng.shuffle(doc)
            texts.append(doc)
    while len(texts) < n:
        texts.append(rng.sample(vocab, rng.randint(lo, hi)))
    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)
    lines = [json.dumps({"doc_id": ids[k], "text": " ".join(t),
                         "quality": round(rng.choice([0.5, 0.6, 0.7, 0.8, 0.9]) +
                                          rng.choice([0.0, 0.0, 0.01, 0.02]), 2)},
                        separators=(",", ":")) for k, t in enumerate(texts)]
    order = list(range(len(lines)))
    rng.shuffle(order)
    size = write_parts(d / "corpus", [lines[k] for k in order])
    (d / "planted.tsv").write_text("".join(
        " ".join(str(ids[k]) for k in c) + "\n" for c in clusters))
    return {"input_records": len(texts), "planted_clusters": len(clusters),
            "planted_docs": sum(len(c) for c in clusters), "hub_docs": hub_n,
            "input_bytes": size}


GENERATORS = {"ai_update": gen_ai_update, "license_tag": gen_license_tag,
              "neardup": gen_neardup}


def generate(workload, seed, d):
    d = Path(d)
    d.mkdir(parents=True, exist_ok=True)
    rng = random.Random(f"{workload}:{seed}")
    meta = GENERATORS[workload](rng, d, PARAMS[workload])
    meta.update(workload=workload, seed=seed, as_of=AS_OF, params=PARAMS[workload])
    (d / "meta.json").write_text(json.dumps(meta, indent=1) + "\n")
    return meta


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
