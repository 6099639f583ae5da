"""Seeded synthetic corpus shared by the pages generator, the language-ID
model trainer, and the perplexity model trainer.

Word inventories are small public common-word lists per language — enough
signal for a deterministic character-n-gram classifier over synthetic text.
No external data (FIXTURES.md §F1: deterministic, seed-driven).
"""

from __future__ import annotations

import random

WORDS = {
    "en": (
        "the be to of and that have with a in it for not on he as you do at "
        "this but his by from they we say her she or an will my one all would "
        "there their what so up out if about who get which go me when make can "
        "like time no just him know take people into year your good some could "
        "them see other than then now look only come its over think also back "
        "after use two how our work first well way even new want because any "
        "these give day most us house water long little very great old small "
        "world school still between never under might country"
    ).split(),
    "fr": (
        "le de un être et à il avoir ne je son que se qui ce dans en du elle "
        "au pour pas sur faire plus dire me on mon lui nous comme mais pouvoir "
        "avec tout y aller voir bien où sans tu ou leur homme si deux mari moi "
        "vouloir te femme venir quand grand celui monde beaucoup toujours temps "
        "même notre aussi quelque alors jour rien petit encore"
    ).split(),
    "es": (
        "el la de que y a en un ser se no haber por con su para como estar "
        "tener le lo todo pero más hacer o poder decir este ir otro ese si me "
        "ya ver porque dar cuando muy sin vez mucho saber qué sobre mi alguno "
        "mismo yo también hasta año dos querer entre así primero desde grande "
        "eso ni nos llegar pasar tiempo ella bien día uno siempre"
    ).split(),
    "de": (
        "der die und in den von zu das mit sich des auf für ist im dem nicht "
        "ein eine als auch es an werden aus er hat dass sie nach wird bei einer "
        "um am sind noch wie einem über einen so zum war haben nur oder aber "
        "vor zur bis mehr durch man sein wurde sei schon wenn hier alle wieder "
        "meine zeit gegen jahr diese ihrer ihr kann"
    ).split(),
    "it": (
        "il di che e la a un essere per in una mi sono ho non lo ha con si "
        "come ti ci io questo qui hai del tu bene ma sei no cosa le da me se "
        "perché che gli molto anche più tutto della quando mia fatto lei loro "
        "fare era dire lui stato tempo casa giorno uomo vita mondo mano parte "
        "anno modo volta ancora solo prima dove"
    ).split(),
}

LANGS = tuple(sorted(WORDS))


def make_sentence(rng: random.Random, lang: str, n_words: int) -> str:
    return " ".join(rng.choice(WORDS[lang]) for _ in range(n_words))


def make_paragraphs(rng: random.Random, lang: str, n_lines: int, words_per_line: tuple[int, int]) -> str:
    lo, hi = words_per_line
    return "\n".join(
        make_sentence(rng, lang, rng.randint(lo, hi)) for _ in range(n_lines)
    )


# Size and seed of each language's training corpus; the model weights
# depend on both, so a change here needs a new textmodel._MODEL_VERSION.
TRAINING_DOCS = 200
TRAINING_SEED = 7


def training_corpus(lang: str) -> list[str]:
    """Deterministic training docs for model fitting — a different seed
    stream than the evaluation fixture (synth.py uses seed=42 keyed by
    doc_id), so models generalize rather than memorize exact docs."""
    rng = random.Random(f"train:{lang}:{TRAINING_SEED}")
    return [make_paragraphs(rng, lang, rng.randint(3, 8), (6, 14)) for _ in range(TRAINING_DOCS)]
