"""Seeded CrossRef page generator for the ETL workloads.

Writes JSONL page files in the shape the CrossRef REST API returns (one
``{"message": {"next-cursor", "items"}}`` envelope per line, 500 works per
page) and, beside them, the ground truth the benchmark checks the
pipeline's outputs against.

Every work is a pure function of ``(seed, index)``: a batch that re-delivers
an index re-delivers the identical work, which is how incremental batches
share DOIs with the base load. Authors and affiliations come from pools that
are a pure function of the seed, so batches also share entities.

The ground truth is computed with the reference pipeline's own rules, written
here in Python (html.unescape, NFKD accent fold, whitespace collapse,
lower-case; first valid year over published-online, published-print, issued,
created). The program under test receives only the page files.
"""
import html
import json
import os
import random
import re
import unicodedata

PAGE_SIZE = 500
UPS_TARGET = "universidad politecnica salesiana"
DATE_KEYS = ("published-online", "published-print", "issued", "created")

GIVEN = ["José", "María", "Luis", "Ana", "Jorge", "Lucía", "Andrés", "Sofía",
         "Raúl", "Inés", "Martín", "Verónica", "Iñaki", "Zoë", "Björn", "Chloé",
         "Héctor", "Mónica", "Joaquín", "Renée", "Paul", "Anna", "Wei", "Yuki"]
FAMILY = ["Pérez", "González", "Muñoz", "Müller", "Núñez", "Álvarez", "Peña",
          "Castañeda", "Ordóñez", "Zúñiga", "Smith", "García", "López",
          "Chávez", "Ibáñez", "Rodríguez", "Vásquez", "Brontë", "Cortés",
          "Dvořák", "Nováková", "Sánchez", "Ramírez", "Torres"]
SPACES = [" ", " ", " ", "  ", " "]

# Affiliation spellings. The UPS ones all fold to the UPS target string
# (accents, HTML entities, case, repeated spaces); the English spelling in
# OTHER_AFFS is one the reference's default gate does not accept.
UPS_SPELLINGS = [
    "Universidad Politécnica Salesiana",
    "Universidad Polit&eacute;cnica Salesiana",
    "UNIVERSIDAD POLITÉCNICA SALESIANA",
    "Universidad  Politecnica Salesiana",
    "universidad politécnica salesiana",
]
UPS_PLACES = ["", ", Cuenca, Ecuador", ", Sede Quito", ", Guayaquil",
              " sede Cuenca, Azuay", ", Quito, Pichincha, Ecuador"]
OTHER_AFFS = [
    "Universidad de Cuenca, Ecuador", "Escuela Politécnica Nacional, Quito",
    "Universidad de Chile, Santiago, Chile", "Universidad de los Andes, Colombia",
    "Pontificia Universidad Católica del Perú, Lima, Peru",
    "Universidad Nacional de La Plata, Argentina",
    "University of California, U.S.A.", "Universidad Complutense, Madrid, Spain",
    "Technische Universität München, Germany", "Universit&eacute; de Lyon, France",
    "Università di Bologna, Italy", "Tsinghua University, Beijing, China",
    "University of Tokyo, Japan", "Universidade de São Paulo, Brasil",
    "Salesian Polytechnic University, Ecuador", "Universidad Autónoma de México",
    "University of Toronto, Canada", "University of Oxford, U.K.",
]
SUBJECTS = ["Engineering", "Computer Science", "Education",
            "Ciencias &amp; Tecnología", "Ingeniería", "Biología",
            "Social Sciences", "Medicine", "Economía", "Environmental Science",
            "Psicología", "Energy"]
TYPES = ["journal-article", "proceedings-article", "book-chapter",
         "posted-content", "journal-article", "journal-article"]
PUBLISHERS = ["Editorial &quot;Andina&quot;", "IEEE", "Springer", "Elsevier",
              "Editorial Universitaria Abya-Yala", "MDPI"]


def norm_key(s):
    """The reference's search key: unescape, NFKD, drop combining marks,
    collapse whitespace, lower-case."""
    if s is None:
        return ""
    s = unicodedata.normalize("NFKD", html.unescape(s))
    s = "".join(c for c in s if not unicodedata.combining(c))
    return re.sub(r"\s+", " ", s).strip().lower()


def std_doi(s):
    s = html.unescape(s.strip())
    s = re.sub(r"(?i)^(https?://(dx\.)?doi\.org/|doi:\s*)", "", s)
    return s.strip().lower()


def first_year(work):
    for k in DATE_KEYS:
        parts = work.get(k, {}).get("date-parts") or [[]]
        y = parts[0][0] if parts[0] else None
        if y is not None and 1600 <= y <= 2100:
            return y
    return None


def _pools(seed):
    rng = random.Random(seed * 7919 + 17)
    authors = []
    for i in range(4000):
        given = rng.choice(GIVEN)
        family = rng.choice(FAMILY) + " " + rng.choice(FAMILY)
        orcid = None
        if rng.random() < 0.45:
            orcid = "0000-000%d-%04d-%04d" % (rng.randrange(10), i // 10000,
                                              i % 10000)
        authors.append({"given": given, "family": family, "orcid": orcid})
    # colliding ORCIDs: a few distinct names claim one identifier
    for i in range(0, 4000, 97):
        j = (i + 31) % 4000
        if authors[i]["orcid"]:
            authors[j]["orcid"] = authors[i]["orcid"]
    affs = []
    for i in range(600):
        if rng.random() < 0.55:
            name = rng.choice(UPS_SPELLINGS) + rng.choice(UPS_PLACES)
        else:
            name = rng.choice(OTHER_AFFS)
        if i >= 30:
            name = name + ", Dept. %d" % (i % 41)
        affs.append(name)
    # every author has a home set of affiliations
    homes = [[rng.randrange(600) for _ in range(rng.randint(1, 2))]
             for _ in range(4000)]
    return authors, affs, homes


def _date(rng, year):
    r = rng.random()
    if r < 0.4:
        return {"date-parts": [[year, rng.randint(1, 12), rng.randint(1, 28)]]}
    if r < 0.75:
        return {"date-parts": [[year, rng.randint(1, 12)]]}
    return {"date-parts": [[year]]}


def make_work(seed, idx, pools):
    """The work with index ``idx``: deterministic in (seed, idx)."""
    authors, affs, homes = pools
    rng = random.Random(seed * 1000003 + idx)
    doi = "10.%d/ups.%d.%d" % (4000 + idx % 37, seed, idx)
    form = rng.random()
    if form < 0.3:
        doi_raw = "https://doi.org/" + doi.upper()
    elif form < 0.4:
        doi_raw = "doi: " + doi
    elif form < 0.5:
        doi_raw = " http://dx.doi.org/" + doi + " "
    else:
        doi_raw = doi
    year = rng.randint(2010, 2025)
    w = {"DOI": doi_raw,
         "title": ["Estudio %d de Análisis &amp; Diseño" % idx],
         "container-title": [rng.choice(["Revista  Técnica", "Ingenius",
                                         "Alteridad", "La Granja"])],
         "publisher": rng.choice(PUBLISHERS),
         "type": rng.choice(TYPES),
         "is-referenced-by-count": rng.randrange(200),
         "reference-count": rng.randrange(80),
         "subject": rng.sample(SUBJECTS, rng.randint(0, 3))}
    r = rng.random()
    if r < 0.55:
        w["published-online"] = _date(rng, year)
    elif r < 0.62:
        w["published-online"] = {"date-parts": [[rng.choice([0, 3000])]]}
        w["published-print"] = _date(rng, year)
    elif r < 0.8:
        w["published-print"] = _date(rng, year)
    elif r < 0.9:
        w["issued"] = _date(rng, year)
    if r < 0.995:
        w["created"] = _date(rng, max(year, 2015))
    auth = []
    n_auth = rng.choice([1, 1, 2, 2, 3, 3, 4, 5, 6])
    for s in range(n_auth):
        a = int(rng.paretovariate(1.2) * 7) % 4000
        p = authors[a]
        au = {}
        shape = rng.random()
        if shape < 0.92:
            au["given"] = p["given"]
            au["family"] = p["family"].replace(" ", rng.choice(SPACES))
        elif shape < 0.97:
            au["name"] = p["given"] + " " + p["family"]
        if p["orcid"] and rng.random() < 0.8:
            au["ORCID"] = "https://orcid.org/" + p["orcid"]
        au["sequence"] = "first" if s == 0 else "additional"
        k = rng.random()
        if k < 0.1:
            au["affiliation"] = []
        else:
            home = homes[a]
            picks = home if k > 0.7 else home[:1]
            au["affiliation"] = [{"name": affs[h]} for h in picks]
        auth.append(au)
    w["author"] = auth
    return w


def gated(work):
    """The UPS gate: any named author with any UPS affiliation."""
    for au in work["author"]:
        full = (au.get("given", "") + " " + au.get("family", "")).strip(" ")
        if not norm_key(full or au.get("name")):
            continue
        if any(UPS_TARGET in norm_key(af["name"]) for af in au["affiliation"]):
            return True
    return False


def write_batch(out_dir, seed, indices, pools=None):
    """Write the works ``indices`` as JSONL pages under ``out_dir`` and
    return the batch's ground truth (keyed by standardized DOI)."""
    pools = pools or _pools(seed)
    os.makedirs(out_dir, exist_ok=True)
    truth = {}
    for p in range(0, len(indices), PAGE_SIZE):
        items = []
        for idx in indices[p:p + PAGE_SIZE]:
            w = make_work(seed, idx, pools)
            items.append(w)
            truth[std_doi(w["DOI"])] = (gated(w), first_year(w))
        env = {"message": {"next-cursor": "c%d" % (p // PAGE_SIZE + 1),
                           "items": items}}
        with open(os.path.join(out_dir, "page-%05d.jsonl" % (p // PAGE_SIZE)),
                  "w", encoding="utf-8") as f:
            f.write(json.dumps(env, ensure_ascii=False) + "\n")
    return truth


def summarize(truth):
    """Ground truth of a warehouse holding the works in ``truth``."""
    per_year = {}
    n_gated = 0
    for ok, year in truth.values():
        if ok:
            n_gated += 1
            if year is not None:
                per_year[year] = per_year.get(year, 0) + 1
    return {"works": len(truth), "gated": n_gated,
            "per_year": {str(y): n for y, n in sorted(per_year.items())}}


def batch_indices(seed, n_works, base=0, reuse=0):
    """Indices of one batch: ``n_works`` new works from ``base``, ``reuse``
    works re-delivered from ``[0, base)``, and 1% of the batch delivered
    twice."""
    rng = random.Random(seed * 31 + base)
    idx = list(range(base, base + n_works))
    if reuse:
        idx += rng.sample(range(base), reuse)
    idx += rng.sample(idx, len(idx) // 100)
    rng.shuffle(idx)
    return idx
