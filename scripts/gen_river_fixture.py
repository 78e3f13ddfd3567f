#!/usr/bin/env python3
"""Generate the river water-quality fixture used when the reference CSV is absent.

The output has the reference file's exact header and shape (FIXTURES.md
sections 1 and 3): 29,159 readings of 160 waterbodies on first-of-month
dates from 2007-01-01 to 2023-04-01, sorted by FullDate, no empty cells,
and values inside the observed ranges (pH 4.7-9.8, dissolved oxygen
0-198 % saturation, conductivity 33-4200). Each waterbody has its own
base level and a slow drift per year, so the per-waterbody WQI trends
differ in sign and size.

The generator is seeded and uses only the standard library, so the
output is byte-identical on every run:

    python3 scripts/gen_river_fixture.py [out.csv]
"""
import random
import sys

SEED = 20070101
ROWS = 29159
WATERBODIES = 160
FIRST_YEAR, LAST_YEAR, LAST_MONTH = 2007, 2023, 4
HEADER = "FullDate,WaterbodyName,pH,Dissolved Oxygen,Conductivity @25°C"
DEFAULT_OUT = "src/main/resources/river/sorted_water_quality.csv"

STEMS = ["AVON", "BALLY", "CARRIG", "DARGLE", "ENNIS", "FOYLE", "GLEN",
         "INCH", "KILL", "LOUGH", "MOY", "NORE", "OWEN", "RATH", "SUIR",
         "TOLKA", "ARD", "BROS", "CLODI", "DROM"]
KINDS = ["RIVER", "STREAM", "BROOK", "BURN"]


def clip(x, lo, hi):
    return max(lo, min(hi, x))


def months():
    for y in range(FIRST_YEAR, LAST_YEAR + 1):
        for m in range(1, 13):
            if (y, m) > (LAST_YEAR, LAST_MONTH):
                return
            yield y, m


def main(out_path):
    rng = random.Random(SEED)
    names = sorted(f"{STEMS[i % len(STEMS)]} {KINDS[i // len(STEMS) % len(KINDS)]}"
                   f"_{10 + 10 * (i // (len(STEMS) * len(KINDS))):03d}"
                   for i in range(WATERBODIES))
    assert len(set(names)) == WATERBODIES
    profile = {
        n: (rng.gauss(7.6, 0.35), rng.gauss(0.0, 0.03),      # pH base, drift/yr
            rng.gauss(92.0, 12.0), rng.gauss(0.0, 0.8),      # DO base, drift/yr
            rng.lognormvariate(6.0, 0.6), rng.gauss(0.0, 0.02))  # cond base, rel drift/yr
        for n in names}
    slots = [(y, m, n) for (y, m) in months() for n in names]
    keep = sorted(rng.sample(range(len(slots)), ROWS))
    lines = [HEADER]
    for i in keep:
        y, m, n = slots[i]
        ph0, ph_d, do0, do_d, c0, c_d = profile[n]
        t = (y - FIRST_YEAR) + (m - 1) / 12.0
        ph = clip(rng.gauss(ph0 + ph_d * t, 0.3), 4.7, 9.8)
        do = clip(rng.gauss(do0 + do_d * t, 10.0), 0.0, 198.0)
        cond = clip(c0 * (1.0 + c_d) ** t * rng.lognormvariate(0.0, 0.15), 33.0, 4200.0)
        lines.append(f"{y:04d}-{m:02d}-01,{n},{ph:.2f},{do:.1f},{cond:.1f}")
    with open(out_path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_OUT)
