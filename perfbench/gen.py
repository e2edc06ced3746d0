"""Seeded input generator for the clean-pipeline benchmark workloads.

`generate(workload, seed, out_dir)` writes the tab-separated claim files and
dictionary templates the program reads, under `out_dir/inputs`, and returns
the expectations the benchmark checks the program's output against. The
expectations come from this module's own formulas, never from the program:

- `rows`: rows of the final DISTINCT table (one per matched claim key);
- `fr_lunch`, `fr_breakfast`: exact integer sums of `FR Lunch Meals` and
  `FR Breakfast Meals` over those rows;
- `lunch_rows`, `breakfast_rows`: input rows, duplicates included;
- `columns`: the final table's column names, in order;
- `kept`, `dropped`, `renamed`: the dictionary plan, summed over both files.

Same seed, same bytes; the program never sees the expectations.
"""

import json
import os
import random

SEP = "\t"
KEYS = ["school name", "claim date"]

# Clean names the pipeline reads, with the raw header spellings states use
# for them. Matching is case-insensitive; a spelling equal to its clean name
# is kept as is, any other is renamed.
LUNCH_BASE = [
    ("school name", ["school name", "School Name", "SITE_NAME"]),
    ("claim date", ["claim date", "CLAIM_DATE", "Claim Month"]),
    ("district id", ["district id", "DISTRICT_ID", "SFA Number"]),
    ("School ID", ["School ID", "SCHOOL_ID", "Site ID"]),
    ("Agency Code", ["AGENCY_CODE", "Sponsor Code"]),
    ("PUBLIC", ["PUBLIC", "IS_PUBLIC"]),
    ("SCHOOL TYPE", ["SCHOOL TYPE", "SITE_TYPE"]),
    ("School Level-Original", ["School Level-Original", "GRADE_LEVEL"]),
    ("CEP (Y/N)", ["CEP (Y/N)", "CEP_FLAG"]),
    ("Lunch Meals-Free", ["Lunch Meals-Free", "L_FREE"]),
    ("Lunch Meals-Reduced", ["Lunch Meals-Reduced", "L_REDUCED"]),
    ("Lunch Meals-Free and Reduced", ["Lunch Meals-Free and Reduced", "L_FR"]),
    ("Lunch Meals-Paid", ["Lunch Meals-Paid", "L_PAID"]),
    ("Operating Days-Lunch Only", ["Operating Days-Lunch Only", "L_DAYS"]),
    ("Operating Days", ["Operating Days", "OP_DAYS"]),
    ("Enrollment-Free", ["Enrollment-Free", "ENR_FREE"]),
    ("Enrollment-Reduced", ["Enrollment-Reduced", "ENR_REDUCED"]),
    ("Enrollment-Free and Reduced", ["Enrollment-Free and Reduced", "ENR_FR"]),
    ("Enrollment-Total", ["Enrollment-Total", "ENR_TOTAL"]),
    ("School Year", ["School Year", "SY"]),
]
BREAKFAST_BASE = [
    ("school name", ["school name", "School Name", "SITE_NAME"]),
    ("claim date", ["claim date", "CLAIM_DATE", "Claim Month"]),
    ("district id", ["district id", "DISTRICT_ID", "SFA Number"]),
    ("School ID", ["School ID", "SCHOOL_ID", "Site ID"]),
    ("Agency Code", ["AGENCY_CODE", "Sponsor Code"]),
    ("TRADITIONAL_MODEL", ["TRADITIONAL_MODEL", "MODEL_O"]),
    ("MID_MORNING_MODEL", ["MID_MORNING_MODEL", "MODEL_P"]),
    ("CLASSROOM_MODEL", ["CLASSROOM_MODEL", "MODEL_C"]),
    ("REDUCED_PRICE_MODEL", ["REDUCED_PRICE_MODEL", "MODEL_R"]),
    ("GRAB_N_GO_MODEL", ["GRAB_N_GO_MODEL", "MODEL_G"]),
    ("FREE_MODEL", ["FREE_MODEL", "MODEL_T"]),
    ("Breakfast Meals-Free", ["Breakfast Meals-Free", "B_FREE"]),
    ("Breakfast Meals-Reduced", ["Breakfast Meals-Reduced", "B_REDUCED"]),
    ("Breakfast Meals-Free and Reduced",
     ["Breakfast Meals-Free and Reduced", "B_FR"]),
    ("Operating Days-Breakfast Only", ["Operating Days-Breakfast Only", "B_DAYS"]),
    ("Operating Days", ["Operating Days", "OP_DAYS"]),
]
NOT_USED = [("AGENCY_NAME", "NOT USED - agency name"),
            ("CONTACT_PHONE", "NOT USED - contact")]
JUNK = ["JUNK_COL", "EXTRA_NOTES", "LOAD_TS"]

# Columns Pipeline.run derives, in the order it adds them.
LUNCH_DERIVED = [
    "School Type-Original", "FR Lunch Meals", "FR Lunch ADP", "Unique ID",
    "NCES ID", "School_Year", "Target Area", "FR Enrollment",
    "FR Enrollment Percentage", "School Level-Standardized",
    "School Type-Standardized"]
BREAKFAST_DERIVED = [
    "Breakfast Delivery Model from State Agency-Original",
    "FR Breakfast Meals", "FR Breakfast ADP"]



def _dictionaries(extra1=(), extra2=()):
    """Two templates: (raw name, clean name) rows. Breakfast spellings and
    the shared claim keys go to template 1, lunch spellings to template 2,
    as in the reference's two dictionary files."""
    d1, d2, seen = [], [], set()
    for base, target in ((BREAKFAST_BASE, d1), (LUNCH_BASE, d2)):
        for clean, raws in base:
            for raw in raws:
                if raw.lower() not in seen:
                    seen.add(raw.lower())
                    target.append((raw, clean))
    d1 += NOT_USED[:1] + list(extra1)
    d2 += NOT_USED[1:] + list(extra2)
    return d1, d2


def _write_dictionary(path, rows, tag):
    lines = [SEP.join(["raw_data_column", "raw_data_column_name",
                       "equivalent_clean_data_name", "notes"])]
    for i, (raw, clean) in enumerate(rows):
        lines.append(SEP.join([f"{tag}{i}", raw, clean, "generated"]))
    _write(path, lines)


def _write(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines) + "\n")


def _plan(header, lookup):
    """The dictionary plan for one file: [(raw, clean)] kept in input
    order, plus dropped and renamed counts. `lookup` maps lower-case raw
    names to clean names; a file never holds two spellings of one clean
    name, so every kept clean name is 1:1."""
    kept, dropped, renamed = [], 0, 0
    for raw in header:
        clean = lookup.get(raw.lower())
        if clean is None or "NOT USED" in clean:
            dropped += 1
            continue
        kept.append(clean)
        renamed += clean != raw
    return kept, dropped, renamed


def _final_columns(lunch_kept, breakfast_kept):
    """Columns of Assemble.joinClaims' output: the two using-keys, the lunch
    side, then the breakfast side with overlapping names suffixed `_b`."""
    lunch = lunch_kept + [c for c in LUNCH_DERIVED if c not in lunch_kept]
    breakfast = breakfast_kept + [c for c in BREAKFAST_DERIVED
                                  if c not in breakfast_kept]
    overlap = (set(lunch) & set(breakfast)) - set(KEYS)
    return (KEYS + [c for c in lunch if c not in KEYS] +
            [c + "_b" if c in overlap else c
             for c in breakfast if c not in KEYS])


def _meals(rng, days):
    """(free, reduced, combined) text cells and their FR total. A null split
    leaves the combined column as the fallback the pipeline must use."""
    free, reduced = rng.randint(0, 40) * days, rng.randint(0, 15) * days
    if rng.random() < 0.15:
        return ("" if rng.random() < 0.5 else str(free), "",
                str(free + reduced), free + reduced)
    return str(free), str(reduced), "", free + reduced


def _claims(rng, n_keys, lunch_extra, breakfast_extra):
    """Rows for one lunch/breakfast pair keyed by (school, date, district).

    About 80% of lunch keys have a breakfast claim; the rest, and a few
    breakfast-only keys, are unmatched. District ids are written padded on
    one side and unpadded on the other at random, so only the padded join
    key matches them. About 5% of rows are repeated exactly, for DISTINCT.
    `*_extra(rng)` give the cells of the non-base columns per row."""
    dates = ["2017-%02d-01" % m for m in range(1, 13)]
    keys = []
    for k in range(n_keys):
        school = f"School {k // len(dates):05d}"
        keys.append((school, dates[k % len(dates)], rng.randint(1, 999999),
                     k // len(dates)))
    lunch, breakfast = [], []
    exp = {"rows": 0, "fr_lunch": 0, "fr_breakfast": 0}

    def pad(d):
        return f"{d:06d}" if rng.random() < 0.5 else str(d)

    for school, date, district, sid in keys:
        days = rng.randint(15, 22)
        lf, lr, lfr, lsum = _meals(rng, days)
        enr_f, enr_r = rng.randint(10, 400), rng.randint(0, 100)
        lunch_row = {
            "school name": school, "claim date": date,
            "district id": pad(district), "School ID": str(sid),
            "Agency Code": f"A{district % 97}",
            "PUBLIC": rng.choice(["YES", "NO"]),
            "SCHOOL TYPE": rng.choice(["Regular", "RCCI"]),
            "School Level-Original": rng.choice(
                ["High School", "Elementary School", "Middle School",
                 "Junior H.S", "RCCI", "Unknown", ""]),
            "CEP (Y/N)": rng.choice(["Y", "N"]),
            "Lunch Meals-Free": lf, "Lunch Meals-Reduced": lr,
            "Lunch Meals-Free and Reduced": lfr,
            "Lunch Meals-Paid": str(rng.randint(0, 30) * days),
            "Operating Days-Lunch Only": "" if rng.random() < 0.2 else str(days),
            "Operating Days": str(days),
            "Enrollment-Free": str(enr_f), "Enrollment-Reduced": str(enr_r),
            "Enrollment-Free and Reduced": str(enr_f + enr_r),
            "Enrollment-Total": str(enr_f + enr_r + rng.randint(0, 300)),
            "School Year": rng.choice(["17-18", ""]),
        }
        lunch_row.update(lunch_extra(rng))
        lunch.append(lunch_row)
        if rng.random() < 0.8:
            bf, br, bfr, bsum = _meals(rng, days)
            row = {
                "school name": school, "claim date": date,
                "district id": pad(district), "School ID": str(sid),
                "Agency Code": f"A{district % 97}",
                "Breakfast Meals-Free": bf, "Breakfast Meals-Reduced": br,
                "Breakfast Meals-Free and Reduced": bfr,
                "Operating Days-Breakfast Only":
                    "" if rng.random() < 0.2 else str(days),
                "Operating Days": str(days),
            }
            for m in ("TRADITIONAL_MODEL", "MID_MORNING_MODEL",
                      "CLASSROOM_MODEL", "REDUCED_PRICE_MODEL",
                      "GRAB_N_GO_MODEL", "FREE_MODEL"):
                row[m] = rng.choice(["Y", "N", ""])
            row.update(breakfast_extra(rng))
            breakfast.append(row)
            exp["rows"] += 1
            exp["fr_lunch"] += lsum
            exp["fr_breakfast"] += bsum
    # Breakfast-only claims: a matched row moved to a district the lunch
    # side never uses for that school and date.
    for row in breakfast[: max(1, len(breakfast) // 20)]:
        moved = dict(row)
        moved["district id"] = str(int(row["district id"]) % 999999 + 1)
        breakfast.append(moved)
    for rows in (lunch, breakfast):
        for row in rng.sample(rows, max(1, len(rows) // 20)):
            rows.append(row)
        rng.shuffle(rows)
    exp["lunch_rows"], exp["breakfast_rows"] = len(lunch), len(breakfast)
    return lunch, breakfast, exp


def _header(rng, base, extra_names):
    """One state's header: a random spelling per base column, the extra
    columns, one NOT USED and one junk column, in a random order."""
    spell = {clean: rng.choice(raws) for clean, raws in base}
    names = [spell[c] for c, _ in base] + list(extra_names)
    names.append(rng.choice([n for n, _ in NOT_USED]))
    names.append(rng.choice(JUNK))
    rng.shuffle(names)
    to_clean = {raw: clean for clean, raw in spell.items()}
    return names, to_clean


def _write_claims(path, header, to_clean, rows):
    """Rows are keyed by clean (or extra) name; a NOT USED or junk column
    gets filler text."""
    lines = [SEP.join(header)]
    for row in rows:
        lines.append(SEP.join(row.get(to_clean.get(h, h), "x") for h in header))
    _write(path, lines)


def _unit(rng, unit_dir, n_keys, lookup, extras):
    """Write one unit's SBP and NSLP files; return its expectations.
    `extras` = (lunch extra names, breakfast extra names, cell maker)."""
    lunch_extra_names, breakfast_extra_names, cell = extras
    l_header, l_map = _header(rng, LUNCH_BASE, lunch_extra_names)
    b_header, b_map = _header(rng, BREAKFAST_BASE, breakfast_extra_names)
    lunch, breakfast, exp = _claims(
        rng, n_keys,
        lambda r: {c: cell(r, c) for c in lunch_extra_names},
        lambda r: {c: cell(r, c) for c in breakfast_extra_names})
    _write_claims(os.path.join(unit_dir, "NSLP.txt"), l_header, l_map, lunch)
    _write_claims(os.path.join(unit_dir, "SBP.txt"), b_header, b_map, breakfast)
    l_kept, l_drop, l_ren = _plan(l_header, lookup)
    b_kept, b_drop, b_ren = _plan(b_header, lookup)
    exp.update(columns=_final_columns(l_kept, b_kept),
               input_columns=len(l_header) + len(b_header),
               kept=len(l_kept) + len(b_kept), dropped=l_drop + b_drop,
               renamed=l_ren + b_ren)
    return exp


def _lookup(d1, d2):
    """Lower-case raw name -> clean name, template 1 first (the pipeline's
    coalesce order)."""
    out = {raw.lower(): clean for raw, clean in d2}
    out.update({raw.lower(): clean for raw, clean in d1})
    return out


def _skewed_sizes(n, total, floor):
    """Zipf-like unit sizes, largest first: a few large units carry most
    keys, many are small. Sizes do not depend on the seed, so every seed
    asks for the same amount of work."""
    weights = [1.0 / (i + 1) ** 1.2 for i in range(n)]
    s = sum(weights)
    return [max(floor, int(total * w / s)) for w in weights]


def _names(prefix, n):
    """Measured unit names, then the warm-up units' (`W0`, ...): the
    harness runs the latter once before measuring and never times them."""
    return ([f"{prefix}{i:02d}" for i in range(n)] +
            [f"W{i}" for i in range(WARM_UNITS)])


def _clean_states(seed, inputs):
    d1, d2 = _dictionaries()
    _write_dictionary(os.path.join(inputs, "dict1.txt"), d1, "c")
    _write_dictionary(os.path.join(inputs, "dict2.txt"), d2, "d")
    lookup = _lookup(d1, d2)
    units = {}
    sizes = _skewed_sizes(STATES, CLEAN_KEYS, 24)
    for name, n_keys in zip(_names("S", STATES),
                            sizes + sizes[-1:] * WARM_UNITS):
        units[name] = _unit(random.Random(f"clean_states:{seed}:{name}"),
                            os.path.join(inputs, name), n_keys, lookup,
                            ((), (), None))
    return units


def _wide_dictionary(seed, inputs):
    """Pairs of ~150-column files. Descriptor columns: a shared block both
    files of a pair carry (as SBP and NSLP repeat school descriptors), a
    block per side, plus NOT USED and unmatched ones. Half the dictionary
    spellings differ from their clean name, so they are renamed."""
    rng = random.Random(f"wide_dictionary:{seed}")
    pool = [f"DESC_{i:04d}" for i in range(WIDE_POOL)]
    clean = {raw: (raw if rng.random() < 0.5 else f"Descriptor {raw[5:]}")
             for raw in pool}
    not_used = pool[: WIDE_POOL // 16]
    for raw in not_used:
        clean[raw] = f"NOT USED - {raw}"
    unmatched = [f"UNMAPPED_{i:03d}" for i in range(WIDE_POOL // 16)]
    half = WIDE_POOL // 2
    d1, d2 = _dictionaries([(r, clean[r]) for r in pool[:half]],
                           [(r, clean[r]) for r in pool[half:]])
    _write_dictionary(os.path.join(inputs, "dict1.txt"), d1, "c")
    _write_dictionary(os.path.join(inputs, "dict2.txt"), d2, "d")
    lookup = _lookup(d1, d2)
    units = {}
    for name in _names("P", PAIRS):
        urng = random.Random(f"wide_dictionary:{seed}:{name}")
        picked = urng.sample(pool, WIDE_SHARED + 2 * WIDE_SIDE)
        shared = picked[:WIDE_SHARED]
        lunch_only = picked[WIDE_SHARED: WIDE_SHARED + WIDE_SIDE]
        breakfast_only = picked[WIDE_SHARED + WIDE_SIDE:]
        junk = urng.sample(unmatched, WIDE_UNMATCHED)
        units[name] = _unit(
            urng, os.path.join(inputs, name), WIDE_KEYS, lookup,
            (shared + lunch_only + junk[: WIDE_UNMATCHED // 2],
             shared + breakfast_only + junk[WIDE_UNMATCHED // 2:],
             lambda r, c: str(r.randint(0, 9999))))
    return units


# Sizes, chosen so a run (JVM start, two warm-up units and one pass of
# eight units) takes under a minute on 4 shared cores: the pass
# starts while the JIT is still warming up, and a unit costs ~2.5-4 s,
# mostly fixed per-unit Spark work, plus its rows or the square of its
# width. CLEAN_KEYS is the claim-key total over the states; a wide file
# holds WIDE_SHARED + WIDE_SIDE descriptors plus its base, NOT USED and
# unmatched columns.
STATES = 8
PAIRS = 8
WARM_UNITS = 2
CLEAN_KEYS = 7000
WIDE_POOL = 1600
WIDE_SHARED = 70
WIDE_SIDE = 50
WIDE_UNMATCHED = 20
WIDE_KEYS = 24

WORKLOADS = {"clean_states": _clean_states,
             "wide_dictionary": _wide_dictionary}


def generate(workload, seed, out_dir):
    """Write `out_dir/inputs/...` and `out_dir/expected.json`; return the
    expectations {unit name: {...}}."""
    units = WORKLOADS[workload](seed, os.path.join(out_dir, "inputs"))
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(units, f, sort_keys=True, indent=1)
    return units
