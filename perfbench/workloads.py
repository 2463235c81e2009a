"""Seeded inputs for the benchmark workloads.

Everything the engine receives is generated here, from the ``--seed``
argument alone: page texts, and the dictionary specs and options they
are matched against. Nothing is read from the library's fixture sources
or from ``tests/``, so an edit there cannot silently change a workload.

The dictionaries are fixed (seed-independent); only the pages vary with
the seed. Page shapes are uniform in length so that a pass costs about
the same on every seed.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

Page = Tuple[str, str, str]  # (url, text, lang)

# -------------------------------------------------------- Orders (web) --

ORDERS_SPEC: Dict = {
    "caption": "Orders",
    "name": "orders",
    "columns": [
        {"caption": "Product", "name": "product_name", "datatype": "string",
         "values": ["Bud 6pcs", "Krusovice 0.5l"]},
        {"caption": "Customer", "name": "customer", "datatype": "string"},
        {"caption": "Country", "name": "country", "datatype": "string",
         "values": ["Italy", "France", "USA", "Canada"]},
        {"caption": "Placed Date", "name": "placed_date", "datatype": "date"},
        {"caption": "Shipped Date", "alt_captions": ["Delivered Date"],
         "name": "shipped_date", "datatype": "date"},
        {"caption": "Internal ID", "name": "id", "datatype": "string",
         "exact_only": True},
        {"caption": "super_id", "name": "super_id", "datatype": "string",
         "exact_only": True},
        {"caption": "value", "name": "value", "datatype": "number"},
    ],
}

_FILLER = (
    "the quick brown fox jumps over a lazy dog while rain falls on green "
    "hills and children play near the river bank watching boats drift by "
    "slowly under bright warm skies full of birds"
).split()
_COUNTRIES = ["Italy", "France", "USA", "Canada"]
_PRODUCTS = ["Bud 6pcs", "Krusovice 0.5l"]
_CUSTOMERS = ["Acme Corp", "John Smith", "Jane Doe", "Globex"]
_MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]
_ORDER_TEMPLATES = [
    "show customer order from {country} placed yesterday",
    "customer {customer} ordered {product} last month",
    "internal id {num}",
    "orders with value = {num} or value < {num2}",
    "{product} delivered before {day} {month} {year}",
    "orders from {country} shipped {day}.{monthnum}.{year}",
    "value more than {num}",
    "customer {customer} from {country}",
]


def _order_sentence(rng: random.Random) -> str:
    t = rng.choice(_ORDER_TEMPLATES)
    month = rng.randrange(12)
    return t.format(
        country=rng.choice(_COUNTRIES),
        product=rng.choice(_PRODUCTS),
        customer=rng.choice(_CUSTOMERS),
        num=rng.randint(1, 5000),
        num2=rng.randint(1, 100),
        day=rng.randint(1, 28),
        month=_MONTHS[month],
        monthnum=month + 1,
        year=rng.randint(2015, 2024),
    )


def web_pages(seed: int, n: int) -> List[Page]:
    """Common-Crawl-style pages: 2-5 sentences each, ~45% filler prose
    and the rest templated Orders-dictionary sentences (many repeat, so
    the per-worker chunk memo hits), with ~5% non-``en`` pages."""
    rng = random.Random(f"web:{seed}")
    pages: List[Page] = []
    for i in range(n):
        parts = []
        for _ in range(rng.randint(2, 5)):
            if rng.random() < 0.45:
                words = [rng.choice(_FILLER) for _ in range(rng.randint(5, 16))]
                parts.append(" ".join(words) + ".")
            else:
                parts.append(_order_sentence(rng) + ".")
        lang = "en" if rng.random() >= 0.05 else rng.choice(["de", "fr"])
        pages.append((f"https://web.example/{i}", " ".join(parts), lang))
    return pages


# ------------------------------------------------ MovieLens (gazetteer) --

_TITLE_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "fox", "golf", "hotel",
    "india", "jazz", "kilo", "lima", "mike", "nova", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango",
]
_GENRES = ["Action", "Comedy", "Drama", "Thriller", "Sci-Fi", "Romance"]
_YEARS = [str(1950 + i) for i in range(70)]

# English stop words (the reference NER example's list)
STOP_WORDS = [
    "a", "by", "an", "at", "are", "as", "be", "at", "do", "does", "did",
    "etc", "for", "has", "have", "had", "in", "is", "just", "near",
    "of", "on", "per", "the", "to", "vs", "versus", "x", "was",
    "how", "many", "much", "if", "it", "its", "up", "so", "out",
    "show", "about", "after",
    "me", "i", "am", "he", "his", "she", "her", "any", "all", "they",
    "their", "them", "our", "ours",
    "be", "been", "being", "both", "but", "that", "than", "could",
    "and", "or", "from", "no", "not",
]
GAZETTEER_OPTIONS: Dict = {"stop_words": STOP_WORDS}

_GAZ_TEMPLATES = [
    "fans of {genre} will enjoy {title} from {year} this week",
    "the critics called {title} the best {genre} picture of {year}",
    "we watched {title} and another {genre} film made in {year}",
]
_GAZ_FILLER = ["tonight", "again", "together", "slowly", "twice", "alone",
               "downtown", "outside", "upstairs", "recently", "happily",
               "quietly"]


def movie_titles() -> List[str]:
    """10,000 distinct MovieLens-style titles "Word Word (year)". Fixed:
    the same list on every seed."""
    combos = [(a, b, y) for a in _TITLE_WORDS for b in _TITLE_WORDS
              for y in range(1950, 2020)]
    random.Random("titles").shuffle(combos)
    return [f"{a.title()} {b.title()} ({y})" for a, b, y in combos[:10_000]]


def gazetteer_spec() -> Dict:
    return {
        "caption": "Films",
        "name": "movielens",
        "columns": [
            {"caption": "Title", "name": "Title", "datatype": "string",
             "values": movie_titles()},
            {"caption": "Genres", "name": "Genres", "datatype": "string",
             "values": list(_GENRES)},
            {"caption": "Year", "name": "Year", "datatype": "number",
             "values": list(_YEARS)},
        ],
    }


def gazetteer_pages(seed: int, n: int, titles: List[str]) -> List[Page]:
    """Pages of three sentences, each naming one title, a genre and a
    year. Every sentence is distinct across the whole page set, so the
    chunk memo never hits; every page has the same shape, so the matcher
    cost per page is about the same on every seed.

    Only titles of two different words are named: a sentence naming a
    title that repeats its word ("Nova Nova") costs ~8x the others in
    the combination DFS, so drawing those at random made a pass's cost,
    and which task straggled, depend on how many a seed happened to
    pick."""
    titles = [t for t in titles if len(set(t[: t.index(" (")].split())) == 2]
    rng = random.Random(f"gazetteer:{seed}")
    seen = set()
    pages: List[Page] = []
    for i in range(n):
        parts = []
        for template in _GAZ_TEMPLATES:
            while True:
                title = rng.choice(titles)
                sentence = template.format(
                    genre=rng.choice(_GENRES),
                    title=title[: title.index(" (")],
                    year=rng.choice(_YEARS),
                ) + " " + rng.choice(_GAZ_FILLER) + "."
                if sentence not in seen:
                    seen.add(sentence)
                    break
            parts.append(sentence)
        pages.append((f"https://films.example/{i}", " ".join(parts), "en"))
    return pages


# ---------------------------------------------------------- workloads --


@dataclass(frozen=True)
class Workload:
    name: str
    pages: List[Page]
    specs: List[Dict]
    options: Optional[Dict]
    partitions: int


def make_workload(name: str, seed: int, cores: int) -> Workload:
    """The inputs of workload ``name`` for ``seed``; partition counts
    scale with the core count so every core stays busy."""
    if name == "web_extract":
        return Workload(name, web_pages(seed, 4_000), [ORDERS_SPEC], None,
                        cores * 2)
    if name == "gazetteer_extract":
        spec = gazetteer_spec()
        titles = spec["columns"][0]["values"]
        # one task per core: on a 4-CPU box each extra mapInPandas task
        # cost ~0.3 s, so 4x more partitions made passes ~50% slower and
        # noisier, while the pages' uniform cost keeps one wave balanced
        return Workload(name, gazetteer_pages(seed, 192, titles),
                        [spec], GAZETTEER_OPTIONS, cores)
    raise ValueError(f"unknown workload {name!r}")


def page_hash(pages: List[Page]) -> str:
    h = hashlib.sha256()
    for url, text, lang in pages:
        h.update(f"{url}\t{text}\t{lang}\n".encode())
    return h.hexdigest()
