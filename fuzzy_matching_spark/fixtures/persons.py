"""Deterministic person-record fixture generator (reference distortion model).

Reimplements the semantics of
``/root/reference/fuzzy_matching/utils/data_generator.py`` (G1-G8 in
SURVEY.md §2.8) with two deliberate substitutions:

* Faker -> fixed name pools (Faker is unavailable offline and
  nondeterministic across versions; fixture fidelity lives in the
  *distortion model*, not the name corpus).
* every random draw comes from an explicit ``random.Random(seed)`` so the
  same seed reproduces the same tables across runs and parallelism levels.

Distortions (default probabilities = reference ``data_generator.py:47-55``):

* G1 double a random char (len >= 2)
* G2 replace a random char at index >= 1 from the language alphabet
  (email -> latin)
* G3 swap char at index i (>=1) with i+1 or i+2; len < 3 unchanged; first
  char preserved
* G4 full-name replacement w.p. ``change_name``; else independent G1/G2/G3;
  plus gendered suffix w.p. ``suffix``
* G5 email: regenerated if the person was replaced; else double/change on
  login, change on domain
* G6 phone: regenerated if replaced; else digit change w.p. 0.1 + another
  w.p. ``double_number``
* ids: ``record_{i+1}`` and variant ``record_{i+1}_v`` (``:426, :443-445``)
"""

from __future__ import annotations

import random

__all__ = ["generate_person_pair", "DEFAULT_PROBABILITIES", "normalize_probabilities"]

# Back-compat aliases for the reference's legacy probability keys
# (``utils/data_generator.py:107-126``, G9): old key -> canonical key,
# applied in the reference's order (later aliases win over earlier ones).
LEGACY_PROBABILITY_ALIASES = (
    ("double_letter", "double_char_probability"),
    ("typo_probability", "double_char_probability"),
    ("change_letter", "change_char_probability"),
    ("swap", "change_char_probability"),  # 'swap' wins over 'change_letter'
    ("character_probability", "change_char_probability"),
    ("change_name", "change_name_probability"),
    ("change_name_domain", "change_domain_probability"),
    ("double_number", "double_number_probability"),
    ("suffix_addition", "suffix_probability"),
)


def normalize_probabilities(probabilities: dict | None) -> dict:
    """Map legacy keys onto canonical ones (reference G9 semantics).

    The reference pops each legacy key into the canonical name, with
    ``swap`` taking precedence over ``change_letter`` when both appear.
    """
    probs = dict(probabilities or {})
    if "change_letter" in probs and "swap" in probs:
        probs.pop("change_letter")  # reference prefers 'swap'
    for old, new in LEGACY_PROBABILITY_ALIASES:
        if old in probs:
            probs[new] = probs.pop(old)
    return probs


DEFAULT_PROBABILITIES = {
    "double_char_probability": 0.3,
    "change_char_probability": 0.4,
    "change_name_probability": 0.1,
    "change_domain_probability": 0.3,
    "double_number_probability": 0.3,
    "suffix_probability": 0.1,
    "swap_char_probability": 0.1,
}

RU_ALPHABET = "абвгдежзиклмнопрстуфхцчшщыэюя"
EN_ALPHABET = "abcdefghijklmnopqrstuvwxyz"

RU_LAST_M = ["Иванов", "Петров", "Сидоров", "Кузнецов", "Смирнов", "Попов",
             "Волков", "Соколов", "Михайлов", "Новиков", "Фёдоров", "Морозов"]
RU_FIRST_M = ["Александр", "Дмитрий", "Максим", "Сергей", "Андрей", "Алексей",
              "Артём", "Илья", "Кирилл", "Михаил", "Никита", "Егор"]
RU_MIDDLE_M = ["Александрович", "Дмитриевич", "Сергеевич", "Андреевич",
               "Алексеевич", "Михайлович", "Иванович", "Петрович"]
RU_LAST_F = [s + "а" for s in RU_LAST_M]
RU_FIRST_F = ["Анастасия", "Мария", "Анна", "Виктория", "Екатерина", "Наталья",
              "Марина", "Полина", "София", "Дарья", "Алиса", "Ксения"]
RU_MIDDLE_F = ["Александровна", "Дмитриевна", "Сергеевна", "Андреевна",
               "Алексеевна", "Михайловна", "Ивановна", "Петровна"]
RU_SUFFIXES_M = ["-младший", "-старший"]
RU_SUFFIXES_F = ["-младшая", "-старшая"]

EN_LAST = ["Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia",
           "Miller", "Davis", "Wilson", "Moore", "Taylor", "Anderson"]
EN_FIRST_M = ["James", "John", "Robert", "Michael", "William", "David",
              "Richard", "Joseph", "Thomas", "Charles", "Daniel", "Matthew"]
EN_FIRST_F = ["Mary", "Patricia", "Jennifer", "Linda", "Elizabeth", "Barbara",
              "Susan", "Jessica", "Sarah", "Karen", "Nancy", "Lisa"]
EN_SUFFIXES = [" Jr", " Sr", " II"]

DOMAINS = ["example.com", "mail.ru", "gmail.com", "yandex.ru", "test.org"]


def _double_char(s: str, rng: random.Random) -> str:
    if len(s) < 2:
        return s
    i = rng.randint(0, len(s) - 1)
    return s[:i] + s[i] + s[i:]


def _change_char(s: str, rng: random.Random, alphabet: str) -> str:
    if len(s) < 2:
        return s
    i = rng.randint(1, len(s) - 1)
    return s[:i] + rng.choice(alphabet) + s[i + 1 :]


def _swap_chars(s: str, rng: random.Random) -> str:
    if len(s) < 3:
        return s
    i = rng.randint(1, len(s) - 2)
    j = min(i + rng.choice([1, 2]), len(s) - 1)
    chars = list(s)
    chars[i], chars[j] = chars[j], chars[i]
    return "".join(chars)


def _distort_name(name: str, rng: random.Random, probs: dict, alphabet: str, suffixes: list[str]) -> str:
    out = name
    if rng.random() < probs["double_char_probability"]:
        out = _double_char(out, rng)
    if rng.random() < probs["change_char_probability"]:
        out = _change_char(out, rng, alphabet)
    if rng.random() < probs["swap_char_probability"]:
        out = _swap_chars(out, rng)
    if rng.random() < probs["suffix_probability"]:
        out = out + rng.choice(suffixes)
    return out


def _phone(rng: random.Random) -> str:
    return "+7" + "".join(rng.choice("0123456789") for _ in range(10))


def generate_person_pair(
    n: int,
    seed: int = 42,
    language: str = "ru",
    probabilities: dict | None = None,
):
    """Return ``(originals, variants)`` lists of dict records.

    Field names follow the reference's RU format for ``language='ru'``
    (Фамилия/Имя/Отчество/email/Телефон/Пол) and EN format otherwise.
    """
    rng = random.Random(seed)
    probs = dict(DEFAULT_PROBABILITIES)
    if probabilities:
        probs.update(normalize_probabilities(probabilities))

    ru = language == "ru"
    fields = (
        {"last": "Фамилия", "first": "Имя", "middle": "Отчество",
         "email": "email", "phone": "Телефон", "gender": "Пол"}
        if ru
        else {"last": "LastName", "first": "FirstName", "middle": "MiddleName",
              "email": "email", "phone": "Phone", "gender": "Gender"}
    )
    alphabet = RU_ALPHABET if ru else EN_ALPHABET

    originals, variants = [], []
    for i in range(n):
        male = rng.random() < 0.5
        if ru:
            last = rng.choice(RU_LAST_M if male else RU_LAST_F)
            first = rng.choice(RU_FIRST_M if male else RU_FIRST_F)
            middle = rng.choice(RU_MIDDLE_M if male else RU_MIDDLE_F)
            suffixes = RU_SUFFIXES_M if male else RU_SUFFIXES_F
            gender = "м" if male else "ж"
            # latin email login from a simple fixed translit of the name
            login = f"user{i}"
        else:
            last = rng.choice(EN_LAST)
            first = rng.choice(EN_FIRST_M if male else EN_FIRST_F)
            middle = rng.choice(EN_FIRST_M if male else EN_FIRST_F)
            suffixes = EN_SUFFIXES
            gender = "m" if male else "f"
            login = f"{first.lower()}.{last.lower()}{i}"
        email = f"{login}@{rng.choice(DOMAINS)}"
        phone = _phone(rng)

        rec = {
            "id": f"record_{i + 1}",
            fields["last"]: last,
            fields["first"]: first,
            fields["middle"]: middle,
            fields["email"]: email,
            fields["phone"]: phone,
            fields["gender"]: gender,
        }
        originals.append(rec)

        # --- variant with distortions (G4/G5/G6 orchestration, G8 ids) ---
        replaced = rng.random() < probs["change_name_probability"]
        if replaced:
            if ru:
                v_last = rng.choice(RU_LAST_M if male else RU_LAST_F)
                v_first = rng.choice(RU_FIRST_M if male else RU_FIRST_F)
                v_middle = rng.choice(RU_MIDDLE_M if male else RU_MIDDLE_F)
            else:
                v_last = rng.choice(EN_LAST)
                v_first = rng.choice(EN_FIRST_M if male else EN_FIRST_F)
                v_middle = rng.choice(EN_FIRST_M if male else EN_FIRST_F)
            v_email = f"user{i}x@{rng.choice(DOMAINS)}"
            v_phone = _phone(rng)
        else:
            v_last = _distort_name(last, rng, probs, alphabet, suffixes)
            v_first = _distort_name(first, rng, probs, alphabet, suffixes)
            v_middle = _distort_name(middle, rng, probs, alphabet, suffixes)
            login_part, domain = email.split("@")
            if rng.random() < probs["double_char_probability"]:
                login_part = _double_char(login_part, rng)
            if rng.random() < probs["change_char_probability"]:
                login_part = _change_char(login_part, rng, EN_ALPHABET)
            if rng.random() < probs["change_domain_probability"]:
                domain = rng.choice(DOMAINS)
            v_email = f"{login_part}@{domain}"
            v_phone = phone
            if rng.random() < 0.1:
                v_phone = _change_char(v_phone, rng, "0123456789")
            if rng.random() < probs["double_number_probability"]:
                v_phone = _change_char(v_phone, rng, "0123456789")

        variants.append({
            "id": f"record_{i + 1}_v",
            fields["last"]: v_last,
            fields["first"]: v_first,
            fields["middle"]: v_middle,
            fields["email"]: v_email,
            fields["phone"]: v_phone,
            fields["gender"]: gender,
        })

    return originals, variants
