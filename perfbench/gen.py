"""Seeded input generator for the job-market benchmark.

Everything the program under test receives is built here from one
``random.Random(seed)``: the same seed gives byte-identical inputs.
The generator knows nothing about the engine beyond its input schemas
(``schemas.JOB_RAW_SCHEMA`` / ``CV_SCHEMA``) and the surrogate-id rule
for cities, so the benchmark's expectations (planted duplicates,
expected fact rows) come from the generator, not from the program.

Input properties the program's behaviour depends on, and how they are
shaped:

- skill popularity: a nearly ubiquitous pair ("francais",
  "communication") above the matcher's 0.5 document-frequency cap, a
  Zipf head of catalog skills (functions/skills.py variants appear in
  the text), and a long rare tail of pseudo-word tools. The rare-skill
  prefilter only prunes on this shape;
- planted cross-source duplicates at a stated share, identical
  title/company/city, other source and URL. Base offers never share a
  dedup block, so the expected surviving row count is exact;
- salary text in FCFA/EUR/USD, month/year families, plus offers with
  no salary text (inferred by the chain);
- CVs drawing competences from the same popularity law.

:func:`skill_shares` and :func:`offer_shares` measure these shares on
the generated data.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import random
import re

# (canonical skill, text variants) — canonical names are what the
# chain's catalog pass emits (functions/skills.py SKILLS_CATALOG keys,
# lowercase) or plain SKILL_CATALOG tokens; the variant is what the
# offer text mentions.
HEAD_SKILLS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("excel", ("excel", "vba", "macros")),
    ("sql", ("sql", "mysql", "postgresql", "oracle")),
    ("python", ("python", "pandas", "django", "flask")),
    ("marketing", ("marketing",)),
    ("comptabilite", ("comptabilite",)),
    ("management", ("management",)),
    ("java", ("java", "spring", "maven")),
    ("linux", ("linux", "bash", "ubuntu")),
    ("powerbi", ("power bi", "powerbi", "dax")),
    ("sap", ("sap", "abap")),
    ("docker", ("docker", "kubernetes")),
    ("javascript", ("javascript", "react", "typescript")),
    ("php", ("php", "laravel", "symfony")),
    ("agile", ("agile", "scrum", "kanban")),
    ("tableau", ("tableau",)),
    ("aws", ("aws", "cloudformation")),
    ("negociation", ("negociation",)),
    ("audit", ("audit",)),
    ("anglais", ("anglais",)),
    ("machine learning", ("machine learning", "tensorflow", "pytorch")),
    ("data science", ("data science", "statistics")),
    ("frontend", ("html", "css", "bootstrap")),
    ("nosql", ("mongodb", "redis", "elasticsearch")),
    ("terraform", ("terraform",)),
    ("jenkins", ("jenkins",)),
    ("gcp", ("bigquery", "google cloud")),
)
# required by nearly every Ivorian posting: above any sane df cap
UBIQUITOUS = ("francais", "communication")
UBIQ_OFFER_P = 0.75
UBIQ_CV_P = 0.65
N_TAIL = 3000
ZIPF_S = 1.05
ZIPF_Q = 2.0  # Zipf-Mandelbrot offset: keeps the head skill well under the 0.5 cap

CITIES: tuple[tuple[str, float], ...] = (
    ("Abidjan", 0.55), ("Bouaké", 0.1), ("Yamoussoukro", 0.08),
    ("San-Pédro", 0.07), ("Daloa", 0.06), ("Korhogo", 0.05),
    ("Gagnoa", 0.04), ("Abengourou", 0.03), ("Man", 0.02),
)
# raw location spellings the scrapers send (classify.canonical_city
# maps them back to the first city)
ABIDJAN_VARIANTS = ("Abidjan", "Abidjan Cocody", "Abidjan - Plateau", "Yopougon")

ROLES = (
    "Comptable", "Developpeur", "Analyste", "Commercial", "Chef", "Assistant",
    "Ingenieur", "Responsable", "Technicien", "Consultant", "Auditeur",
    "Gestionnaire", "Chargé", "Administrateur", "Stagiaire",
)
SPECIALTIES = (
    "Finance", "Logiciel", "Donnees", "Ventes", "Projet", "Direction", "Reseaux",
    "Marketing", "Systemes", "Paie", "Clientele", "Achats", "Qualite",
    "Logistique", "Credit", "Tresorerie", "Support", "Produit", "Securite",
)
LEVELS = (("Débutant", "Junior"), ("Intermédiaire", ""), ("Senior", "Senior"))
CONTRACTS = ("CDI", "CDD", "Stage", "Freelance")
SOURCES = ("educarriere_ci", "macarrierepro_net", "goafricaonline", "linkedin_ci")
INDUSTRIES = ("Banque", "Télécoms", "Agro-industrie", "BTP", "Commerce", "Informatique")
SYL = ("ka", "lo", "mi", "su", "de", "ba", "ri", "to", "vo", "ne", "za", "ku",
       "po", "fe", "gi", "ha", "ju", "xo", "wa", "yi", "te", "mo", "la", "si")
COMPANY_SUFFIX = ("Conseil", "Services", "Industries", "Distribution", "Ivoire",
                  "Finance", "Technologies", "Logistique", "Energie", "Assurances")

DUP_SHARE = 0.12          # planted cross-source copies / raw offers
SALARY_TEXT_SHARE = 0.7   # offers whose salary field carries text
DAY = dt.datetime(2026, 3, 2, tzinfo=dt.timezone.utc)


def loc_id(city: str) -> str:
    """LOC_<CLEAN10>, the engine's localisation surrogate rule
    (functions/ids.localisation_id) for an already-canonical city."""
    return "LOC_" + re.sub(r"[^A-Z0-9]", "", city.strip().upper())[:10]


class Vocab:
    """Skill vocabulary with Zipf popularity over head + rare tail."""

    def __init__(self, rng: random.Random) -> None:
        tail: set[str] = set()
        while len(tail) < N_TAIL:
            tail.add("".join(rng.choice(SYL) for _ in range(rng.randint(3, 4))) + "x")
        self.head = [h for h, _ in HEAD_SKILLS]
        self.variants = dict(HEAD_SKILLS)
        self.names = self.head + sorted(tail)
        self.cum = list(itertools.accumulate(
            1.0 / (r + ZIPF_Q) ** ZIPF_S for r in range(len(self.names))))
        self.top10 = set(self.names[:10])
        self.tail = set(self.names[len(self.head):])

    def draw(self, rng: random.Random, k: int) -> list[str]:
        out: list[str] = []
        while len(out) < k:
            s = rng.choices(self.names, cum_weights=self.cum)[0]
            if s not in out:
                out.append(s)
        return out


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(SYL) for _ in range(3)).capitalize()


def _city(rng: random.Random) -> str:
    return rng.choices([c for c, _ in CITIES], [w for _, w in CITIES])[0]


def _salary_text(rng: random.Random) -> str | None:
    if rng.random() >= SALARY_TEXT_SHARE:
        return None
    fam = rng.randrange(6)
    if fam == 0:
        lo = rng.randrange(150, 900) * 1000
        return f"Salaire : {lo:,} - {lo + rng.randrange(100, 600) * 1000:,} FCFA par mois".replace(",", " ")
    if fam == 1:
        return f"{rng.randrange(200, 1500) * 1000:,} FCFA/mois".replace(",", " ")
    if fam == 2:
        return f"{rng.randrange(3, 30) * 1_000_000:,} FCFA par an".replace(",", " ")
    if fam == 3:
        lo = rng.randrange(8, 30) * 100
        return f"{lo} à {lo + rng.randrange(2, 10) * 100} EUR par mois"
    if fam == 4:
        return f"{rng.randrange(10, 40) * 100} USD/mois"
    return f"{rng.randrange(20, 80) * 1000:,} euros par an".replace(",", " ")


def _mention(rng: random.Random, vocab: Vocab, skill: str) -> str:
    return rng.choice(vocab.variants[skill]) if skill in vocab.variants else skill


def gen_offers(seed: int, n_raw: int) -> dict:
    """One day-batch of raw scraped offers (JOB_RAW_SCHEMA dicts).

    ``n_raw`` records, of which round(DUP_SHARE * n_raw) are planted
    cross-source copies of a base offer. Base offers have pairwise
    distinct (company, city) dedup blocks — their company names are
    unique — so the chain's dedup must keep exactly ``n_base`` rows."""
    rng = random.Random(seed)
    vocab = Vocab(rng)
    n_dup = round(DUP_SHARE * n_raw)
    n_base = n_raw - n_dup
    used_companies: set[str] = set()
    base: list[dict] = []
    for i in range(n_base):
        while True:
            company = f"{_word(rng)} {rng.choice(COMPANY_SUFFIX)}"
            if company not in used_companies:
                used_companies.add(company)
                break
        city = _city(rng)
        location = rng.choice(ABIDJAN_VARIANTS) if city == "Abidjan" else city
        level, level_word = rng.choice(LEVELS)
        title = " ".join(w for w in (rng.choice(ROLES), rng.choice(SPECIALTIES), level_word) if w)
        skills = vocab.draw(rng, rng.randint(3, 7))
        skills += [u for u in UBIQUITOUS if rng.random() < UBIQ_OFFER_P]
        mentions = " et ".join(_mention(rng, vocab, s) for s in skills)
        sal = _salary_text(rng)
        desc = (
            f"Nous recherchons un {title} pour renforcer notre équipe à {city}. "
            f"Compétences : {mentions}. "
            f"Expérience exigée : {rng.randint(0, 12)} ans."
            + (f" Rémunération {sal}." if sal and rng.random() < 0.5 else "")
        )
        src = SOURCES[i % len(SOURCES)]
        ts = DAY + dt.timedelta(seconds=rng.randrange(0, 86_000))
        base.append({
            "job_id": f"{src}_{i:06d}",
            "scraped_at": ts.strftime("%Y-%m-%dT%H:%M:%S"),
            "scraper_version": "2.1",
            "country": "CI",
            "title": title,
            "company": company,
            "location": location,
            "description": desc,
            "requirements": f"Maîtrise de {mentions}.",
            "salary": {"amount": None, "currency": None, "period": None,
                       "original_text": sal},
            "contract_type": rng.choice(CONTRACTS),
            "experience_level": level,
            "industry": rng.choice(INDUSTRIES),
            "skills": skills,
            "source": src,
            "source_url": f"https://{src}.example/offre/{i:06d}",
            "html_content": None,
        })
    dups: list[dict] = []
    for j in range(n_dup):
        b = base[rng.randrange(n_base)]
        src = rng.choice([s for s in SOURCES if s != b["source"]])
        ts = dt.datetime.strptime(b["scraped_at"], "%Y-%m-%dT%H:%M:%S") + dt.timedelta(
            seconds=rng.randrange(1, 400))
        dups.append({**b, "job_id": f"{src}_d{j:06d}", "source": src,
                     "source_url": f"https://{src}.example/annonce/d{j:06d}",
                     "scraped_at": ts.strftime("%Y-%m-%dT%H:%M:%S")})
    offers = base + dups
    rng.shuffle(offers)
    return {"offers": offers, "n_base": n_base, "n_dup": n_dup, "vocab": vocab}


def gen_cvs(seed: int, n: int, vocab: Vocab, id_base: int = 0) -> list[dict]:
    """Candidate CVs (CV_SCHEMA dicts). ``cv_id`` is a decimal string
    ``id_base + i`` so a serving slice can carry it as a long."""
    rng = random.Random(seed * 7919 + id_base + 1)
    out = []
    for i in range(n):
        comp = vocab.draw(rng, rng.randint(3, 8))
        comp += [u for u in UBIQUITOUS if rng.random() < UBIQ_CV_P]
        cid = id_base + i
        out.append({
            "cv_id": str(cid),
            "annees_experience": rng.randint(0, 15),
            "niveau_etudes": rng.choice(("Bac+2", "Licence", "Master", "Doctorat")),
            "domaine_etudes": rng.choice(SPECIALTIES),
            "localisation_souhaitee_id": loc_id(_city(rng)),
            "secteur_souhaite_id": None,
            "salaire_souhaite": float(rng.randrange(150, 2000) * 1000),
            "type_contrat_souhaite": rng.choice(CONTRACTS),
            "teletravail_souhaite": rng.random() < 0.2,
            "competences": comp,
            "certifications": [],
            "langues": [{"langue": "Français", "niveau": "Courant"}],
            "source_site": rng.choice(("linkedin_ci", "educarriere_ci")),
            "url_cv": f"https://cv.example/{cid}",
            "scraped_at": (DAY + dt.timedelta(seconds=rng.randrange(86_000))).strftime(
                "%Y-%m-%dT%H:%M:%S"),
            "disponibilite": "Immédiate",
            "statut": "actif",
        })
    return out


def vocab_for(seed: int) -> Vocab:
    """The vocabulary :func:`gen_offers` draws for the same seed."""
    return Vocab(random.Random(seed))


def gen_offer_lake(seed: int, n: int, vocab: Vocab) -> list[tuple]:
    """Enriched, deduplicated offer-lake rows in the chain's output
    shape, restricted to the columns the matcher reads plus identity
    columns: (offer_id, title, company, location, skills, salaire_min,
    salaire_max, experience_level, source). ``location`` is canonical,
    ``skills`` lowercase and distinct, as the chain lands them."""
    rng = random.Random(seed * 104_729 + 3)
    out = []
    for i in range(n):
        skills = vocab.draw(rng, rng.randint(3, 7))
        skills += [u for u in UBIQUITOUS if rng.random() < UBIQ_OFFER_P]
        lo = float(rng.randrange(150, 1500) * 1000)
        level = rng.choice(LEVELS)
        out.append((
            f"{rng.getrandbits(64):016x}",
            " ".join(w for w in (rng.choice(ROLES), rng.choice(SPECIALTIES), level[1]) if w),
            f"{_word(rng)} {rng.choice(COMPANY_SUFFIX)}",
            _city(rng), skills, lo, lo + rng.randrange(0, 800) * 1000, level[0],
            SOURCES[i % len(SOURCES)],
        ))
    return out


OFFER_LAKE_DDL = (
    "offer_id string, title string, company string, location string, "
    "skills array<string>, salaire_min double, salaire_max double, "
    "experience_level string, source string")

SERVING_DDL = (
    "job_id long, skills array<string>, localisation_id string, "
    "salaire_min double, salaire_max double, niveau_experience string")


def gen_serving_offers(seed: int, n: int, vocab: Vocab) -> list[tuple]:
    """Frozen serving corpus rows in the matching operator's offer
    contract (:data:`SERVING_DDL`); ``job_id`` is a long because the
    serving MMR stage carries ids as longs."""
    return [(i + 1, r[4], loc_id(r[3]), r[5], r[6], r[7])
            for i, r in enumerate(gen_offer_lake(seed, n, vocab))]


def jsonl(records: list[dict]) -> str:
    return "".join(json.dumps(r, ensure_ascii=False) + "\n" for r in records)


def skill_shares(skill_lists: list[list[str]], vocab: Vocab) -> dict:
    """Measured share of skill mentions (ubiquitous skills aside) in the
    top-10 skills and in the rare tail."""
    mentions = [s for skills in skill_lists for s in skills if s not in UBIQUITOUS]
    n = max(len(mentions), 1)
    return {
        "in.skill_top10_share": sum(s in vocab.top10 for s in mentions) / n,
        "in.skill_tail_share": sum(s in vocab.tail for s in mentions) / n,
    }


def offer_shares(offers: list[dict], n_dup: int) -> dict:
    """Measured planted-duplicate and salary-text shares of raw offers."""
    return {
        "in.dup_share": n_dup / len(offers),
        "in.salary_text_share": sum(
            o["salary"]["original_text"] is not None for o in offers) / len(offers),
    }
