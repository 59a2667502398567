"""Seeded generator of the four USDA-shaped CSVs ``api.run_pipeline`` reads.

Traits follow ``FIXTURES.md`` §A:

- ``branded_food``: duplicate ``gtin_upc`` groups with distinct ``fdc_id``s
  (the newest record wins), dirty ``serving_size`` strings, ``IU`` and null
  units, null ingredients, and whitespace/case noise;
- ``food``: every branded ``fdc_id`` plus ids absent from ``branded_food``;
- ``nutrient``: names and units that form labels such as ``ENERGY (KCAL)``,
  so thresholds resolve both by full label and by unit;
- ``food_nutrient``: about 12 measurements per food, some duplicated per
  (``fdc_id``, ``nutrient_id``) and some above the thresholds.

Numbers carry at most two decimals and duplicated measurements come in pairs
whose cent sum is even, so every mean is exact at two decimals. Spark's
``bround`` rounds the decimal representation of a double while DuckDB's
``round_even`` rounds its binary value; the two agree away from such ties,
which keeps the DuckDB twin in ``checks.py`` an exact oracle.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv

_WORDS = (
    "organic peanut butter crunchy creamy almond milk chocolate vanilla oat "
    "cereal honey whole wheat bread white rice brown pasta tomato sauce basil "
    "cheddar cheese greek yogurt strawberry blueberry apple juice orange "
    "chicken breast turkey beef jerky salted roasted cashew mixed nuts trail "
    "granola bar protein shake coconut water green tea coffee cold brew lemon "
    "lime sparkling soda diet cola potato chips sea salt vinegar bbq corn "
    "tortilla salsa mild spicy black bean soup lentil quinoa kale spinach "
    "frozen pizza pepperoni mushroom garlic olive oil butter margarine cookie "
    "cracker pretzel gummy candy mint gum ice cream sorbet"
).split()
_INGREDIENTS = (
    "sugar salt water wheat flour soybean oil corn syrup milk eggs natural "
    "flavors citric acid ascorbic acid soy lecithin baking soda yeast cocoa "
    "peanuts almonds whey protein pectin vitamin e"
).split()
_NUTRIENT_BASES = (
    "protein total lipid carbohydrate fiber sugars calcium iron magnesium "
    "phosphorus potassium sodium zinc copper manganese selenium vitamin_c "
    "thiamin riboflavin niacin vitamin_b6 folate vitamin_b12 vitamin_a "
    "vitamin_d vitamin_k cholesterol caffeine alcohol water ash"
).split()
_UNITS = ["G", "MG", "UG", "IU"]
_SERVING_UNITS = ["g", "G", "ml", "ML", " g ", "oz", "IU", "iu", None]
_DIRTY_SIZES = ["abc", "n/a", "1/2", "one", "--"]


def _noisy(rng, texts: list[str]) -> list[str]:
    """Random case changes and leading/trailing spaces."""
    out = []
    for t, r in zip(texts, rng.random(len(texts))):
        if r < 0.3:
            t = t.upper()
        elif r < 0.5:
            t = t.title()
        if r % 0.1 < 0.03:
            t = "  " + t + " "
        out.append(t)
    return out


def _words(rng, vocab, n, lo, hi, sep=" ") -> list[str]:
    v = np.asarray(vocab)
    return [sep.join(v[rng.integers(0, len(v), int(k))]) for k in rng.integers(lo, hi + 1, n)]


def _nutrients(rng) -> pa.Table:
    names, units = ["Energy", "Energy"], ["KCAL", "KJ"]
    for i in range(78):
        base = _NUTRIENT_BASES[i % len(_NUTRIENT_BASES)].replace("_", " ")
        names.append(base if i < len(_NUTRIENT_BASES) else f"{base} {i // len(_NUTRIENT_BASES)}")
        units.append(_UNITS[int(rng.integers(0, len(_UNITS)))])
    units = [u.lower() if r < 0.2 else u for u, r in zip(units, rng.random(len(units)))]
    return pa.table({"id": np.arange(1001, 1001 + len(names), dtype=np.int64), "name": names, "unit_name": units})


def _food_nutrient(rng, fdc_ids: np.ndarray, nutrient_ids: np.ndarray, per_food: int) -> pa.Table:
    n = len(fdc_ids) * per_food
    fdc = np.repeat(fdc_ids, per_food)
    # distinct nutrients per food: the only repeated pairs are the planted ones
    nid = nutrient_ids[rng.random((len(fdc_ids), len(nutrient_ids))).argsort(axis=1)[:, :per_food].ravel()]
    cents = rng.integers(0, 50_000, n)
    big = rng.random(n) < 0.02  # above every unit threshold but UG's
    cents[big] = rng.integers(20_000_000, 40_000_000, int(big.sum()))
    # a second measurement for ~5% of rows, same parity so the mean stays at 2 decimals
    dup = rng.random(n) < 0.05
    dup_cents = cents[dup] + 2 * rng.integers(-100, 101, int(dup.sum()))
    dup_cents = np.abs(dup_cents)
    dup_cents += (dup_cents - cents[dup]) % 2  # keep parity after abs()
    fdc = np.concatenate([fdc, fdc[dup]])
    nid = np.concatenate([nid, nid[dup]])
    amount = np.concatenate([cents, dup_cents]) / 100.0
    order = rng.permutation(len(fdc))
    return pa.table({"fdc_id": fdc[order], "nutrient_id": nid[order], "amount": amount[order]})


def generate(out_dir: str, n_branded: int, seed: int) -> str:
    """Write the four CSVs under ``out_dir`` unless a complete set is already there."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    rng = np.random.default_rng(seed)
    n = n_branded
    fdc_ids = 100_000 + rng.permutation(3 * n)[: n + n // 10].astype(np.int64)
    branded_ids, extra_ids = fdc_ids[:n], fdc_ids[n:]
    upcs = np.array([f"{u:012d}" for u in rng.integers(10**10, 10**11, int(n * 0.8))])
    gtin = upcs[rng.integers(0, len(upcs), n)]
    gtin = np.where(rng.random(n) < 0.02, np.char.add(" ", gtin), gtin)
    size_cents = rng.integers(1, 100_000, n)
    sizes = np.where(rng.random(n) < 0.5, (size_cents // 100).astype(str), (size_cents / 100.0).astype(str)).astype(object)
    dirty = rng.random(n)
    sizes[dirty < 0.03] = np.asarray(_DIRTY_SIZES, dtype=object)[rng.integers(0, len(_DIRTY_SIZES), int((dirty < 0.03).sum()))]
    sizes[(dirty >= 0.03) & (dirty < 0.05)] = None
    ingredients = np.array(_noisy(rng, _words(rng, _INGREDIENTS, n, 3, 12, sep=", ")), dtype=object)
    ingredients[rng.random(n) < 0.05] = None
    units = [_SERVING_UNITS[i] for i in rng.integers(0, len(_SERVING_UNITS), n)]
    branded = pa.table({
        "fdc_id": branded_ids, "gtin_upc": gtin, "ingredients": ingredients,
        "serving_size": pa.array(sizes, pa.string()), "serving_size_unit": pa.array(units, pa.string()),
    })
    food_ids = rng.permutation(fdc_ids)
    food = pa.table({"fdc_id": food_ids, "description": _noisy(rng, _words(rng, _WORDS, len(food_ids), 2, 5))})
    nutrient = _nutrients(rng)
    food_nutrient = _food_nutrient(rng, np.concatenate([branded_ids, extra_ids]), nutrient["id"].to_numpy(), 12)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (("branded_food", branded), ("food", food), ("nutrient", nutrient), ("food_nutrient", food_nutrient)):
        pcsv.write_csv(table, os.path.join(out_dir, f"{name}.csv"))
    open(marker, "w").close()
    return out_dir


def query_texts(seed: int, count: int) -> list[str]:
    """Seeded retrieval queries of one to three food-name words."""
    rng = np.random.default_rng(seed + 1_000_003)
    return _words(rng, _WORDS, count, 1, 3)
