"""Seeded inputs for one annual GDP release, shaped like the reference's
real feeds (FIXTURES.md §1-8), plus the outputs the pipeline must give
on them, computed here in plain Python from the generator's own data.

Inputs (CSV, all codes zero-padded strings):

* ``dim_countries`` — validity band per code; a dissolved economy
  (Czechoslovakia ``200``, valid to 1992) and its successors;
* ``hierarchy`` — the reference's 10-column nested edge list: World →
  regions → subregions → (sub-subregions →) economies, development
  groups, flat groupings, and an ``Other territories`` group whose
  non-target children are kept by the exemption;
* ``labels`` — code → label for economies and groups;
* ``unsd_constant`` / ``unsd_current`` — wide UNSD feeds (one column per
  year, non-GDP indicator rows to filter out, Tanzania reported as its
  two parts ``835``/``836``);
* ``growth_rates`` — wide growth matrix whose last column is used; the
  United States appears under the alias ``842``;
* ``cpi`` / ``deflators`` / ``exchange_rates`` — USIS long feeds; one
  economy has no 2015 deflator row, so its 2024 current-price estimate
  is NULL;
* ``old_release`` — the previous publication by label, with revised,
  dropped and extra values so every QA report has rows.

All values are integer-valued doubles except the deflator chain, so
group sums are exact in any order.
"""

from __future__ import annotations

import csv
import math
import os

import numpy as np

FIRST_YEAR, LAST_DATA_YEAR, LAST_YEAR, BASE_YEAR = 1970, 2023, 2024, 2015
YEARS = list(range(FIRST_YEAR, LAST_DATA_YEAR + 1))
CONSTANT = "GDP_at_constant_prices_2015"
CURRENT = "GDP_at_current_prices"
GDP_INDICATOR = "Gross Domestic Product (GDP)"
RUN_DATE = "2025-07-18"
N_ECONOMIES = 250   # plus about 85 groups: ~300 codes x 55 years x 2 variables

#: codes with fixed roles (must not collide with the random economies)
CZECHOSLOVAKIA, CZECHIA, SLOVAKIA = "200", "203", "703"
TANZANIA, TANZANIA_PARTS = "834", ("835", "836")
USA, USA_GROWTH_ALIAS = "840", "842"
CPI_ECONOMIES = ("004", "060", "092")          # deflator from CPI (MISSING_DEFLATOR_ECONOMIES)
NO_BASE_YEAR_ECONOMY = "901"                   # deflator feed lacks 2015
#: a code whose label the comparison patches (``REFERENCE_LABEL_DIM_PATCHES``)
PATCHED_LABELS = {"410": ("Korea, Republic of", "Republic of Korea")}
OTHER_TERRITORIES = ("2999", "Other territories")
NES_CHILDREN = ("897", "898", "899")
#: every code a remap rule of ``plans.gdp`` touches; random economies avoid them
_REMAP_CODES = {
    "835", "836", "834", "203", "703", "200", "728", "729", "736", "688", "499",
    "891", "412", "191", "807", "705", "070", "890", "643", "804", "112", "860",
    "398", "268", "031", "440", "498", "428", "417", "762", "051", "795", "233",
    "810", "583", "584", "585", "582", "276", "280", "360", "960", "591", "590",
    "158", "842", "926", "757", "251", "579",
}

CSV_SCHEMAS = {
    "dim_countries": "Code string, Label string, ValidFrom int, ValidTo int, IsTarget string",
    "hierarchy": (
        "Parent_Code string, Parent_Label string, Parent_ValidFrom int, "
        "Parent_ValidTo int, Parent_IsTarget string, Child_Code string, "
        "Child_Label string, Child_ValidFrom int, Child_ValidTo int, Child_IsTarget string"
    ),
    "labels": "Code string, Label string",
    "unsd": "CountryID int, Country string, IndicatorName string, "
            + ", ".join(f"`{y}` double" for y in YEARS),
    "growth_rates": "UNCTcc string, `Country/Region` string, "
                    + ", ".join(f"`{y}` double" for y in range(1990, LAST_YEAR + 1)),
    "usis": "Country_Code string, Country_Label string, Year int, Value double",
    "old_release": (
        "Economy_Label string, Year int, US_at_current_prices_Value double, "
        "US_at_current_prices_Footnote string, US_at_current_prices_MissingValue string, "
        "US_at_constant_prices_2015_Value double, "
        "US_at_constant_prices_2015_Footnote string, "
        "US_at_constant_prices_2015_MissingValue string"
    ),
    "gdp_update": (
        "Economy_Code string, Economy_Label string, Year int, Variable string, "
        "Value double, CommentEN string, CommentFR string"
    ),
    "gdp_comparison": (
        "Code string, Economy_Label string, Year int, Variable string, "
        "Value_old double, Value_new double, CommentEN string, CommentFR string"
    ),
}


def _economy_codes(rng: np.random.Generator, n: int) -> list[str]:
    fixed = {CZECHOSLOVAKIA, CZECHIA, SLOVAKIA, USA, NO_BASE_YEAR_ECONOMY,
             *TANZANIA_PARTS, *CPI_ECONOMIES, *PATCHED_LABELS, *NES_CHILDREN}
    pool = [f"{i:03d}" for i in range(1, 897)
            if f"{i:03d}" not in _REMAP_CODES and f"{i:03d}" not in fixed]
    picked = rng.choice(pool, n - len(fixed) + 1, replace=False)  # +1: 834 replaces 835/836
    return sorted(set(picked) | fixed)


class GdpRelease:
    """One seeded release: ``write(dir)`` emits the CSV inputs and the
    attributes ``expected_*`` hold what the pipeline must output."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 0x6D9])
        self.rng = rng
        codes = _economy_codes(rng, N_ECONOMIES)
        self.labels = {c: f"Economy {c}" for c in codes}
        for c, (new, _old) in PATCHED_LABELS.items():
            self.labels[c] = new
        self.labels.update({CZECHOSLOVAKIA: "Czechoslovakia (Former)", TANZANIA: "Tanzania",
                            **{c: f"Territory {c} n.e.s." for c in NES_CHILDREN}})
        self.valid = {c: (1940, 2102) for c in codes}
        self.valid[CZECHOSLOVAKIA] = (1940, 1992)
        self.valid[CZECHIA] = self.valid[SLOVAKIA] = (1993, 2102)
        self.valid[TANZANIA] = (1940, 2102)
        # economies of the output (Tanzania's parts are remapped onto 834)
        self.economies = sorted((set(codes) - set(TANZANIA_PARTS)) | {TANZANIA})
        self._make_series(codes)
        self._make_hierarchy()
        self._make_current_prices()
        self._expected()
        self._make_old_release()

    # ------------------------------------------------------------ series
    def _make_series(self, codes: list[str]) -> None:
        rng = self.rng
        self.constant: dict[tuple[str, int], float | None] = {}
        self.current: dict[tuple[str, int], float | None] = {}
        self.fx: dict[tuple[str, int], float] = {}
        self.defl_lcu: dict[tuple[str, int], float] = {}
        for c in codes:
            level = float(10 ** rng.uniform(8.5, 12.5))
            g = rng.normal(0.03, 0.02, len(YEARS))
            infl = rng.normal(0.04, 0.02, len(YEARS) + 1)
            fx0 = float(10 ** rng.uniform(-0.5, 3))
            for i, y in enumerate(YEARS + [LAST_YEAR]):
                # the feeds carry a deflator and FX row for the estimation year
                self.fx[c, y] = round(fx0 * (1.0 + 0.02 * (i % 7)), 4)
                self.defl_lcu[c, y] = round(100.0 * math.prod(1 + x for x in infl[:i + 1]), 3)
                if y <= LAST_DATA_YEAR:
                    self.constant[c, y] = float(round(level * math.prod(1 + x for x in g[:i + 1])))
        # Czechoslovakia reports only until 1990; missing values are blank
        for y in YEARS:
            if y > 1990:
                self.constant[CZECHOSLOVAKIA, y] = None
        for k in ((codes[5], 1999), (codes[6], 2003)):   # blank cells
            self.constant[k] = None
        self.growth = {c: round(float(rng.normal(2.5, 2.0)), 2) for c in codes}
        del self.growth[codes[7]]                          # no growth rate → NULL estimate

    def _usd_deflator(self, code: str, year: int) -> float | None:
        """``get_gdp_deflators``' arithmetic, in its operation order."""
        if code in CPI_ECONOMIES:
            return 100.0 * self.defl_lcu[code, year] / self.defl_lcu[code, BASE_YEAR]
        if code == NO_BASE_YEAR_ECONOMY:
            return None
        exg = self.defl_lcu[code, year] / self.fx[code, year]
        base = self.defl_lcu[code, BASE_YEAR] / self.fx[code, BASE_YEAR]
        return 100.0 * exg / base

    def _make_current_prices(self) -> None:
        """Current prices follow constant prices through the USD deflator
        (so the deflator QA check is quiet), except for a few economies
        whose current series is off by 5 % in a band of years."""
        rng = self.rng
        noisy = set(rng.choice(self.economies, 4, replace=False))
        for (c, y), v in self.constant.items():
            d = self._usd_deflator(c, y)
            if v is None:
                self.current[c, y] = None
            elif d is None:
                self.current[c, y] = float(round(v * self.defl_lcu[c, y] / 100.0))
            else:
                bump = 1.05 if c in noisy and 2000 <= y <= 2004 else 1.0
                self.current[c, y] = float(round(v * d / 100.0 * bump))

    # --------------------------------------------------------- hierarchy
    def _make_hierarchy(self) -> None:
        rng = self.rng
        econ = [c for c in self.economies if c not in NES_CHILDREN]
        order = list(rng.permutation(econ))
        groups: dict[str, tuple[str, list[str]]] = {}  # code -> (label, children)
        next_code = [2000]

        def group(label: str, children: list[str]) -> str:
            code = f"{next_code[0]:04d}"
            next_code[0] += 1
            groups[code] = (label, children)
            return code

        # geography: World -> 5 regions -> subregions -> (subsub ->) economies
        regions = []
        for r, chunk in enumerate(np.array_split(order, 5)):
            subs = []
            for s, sub in enumerate(np.array_split(chunk, 4)):
                sub = [str(x) for x in sub]
                if s == 0:  # one level deeper
                    leaves = [group(f"Region {r} sub {s} part {p}", [str(x) for x in part])
                              for p, part in enumerate(np.array_split(sub, 3))]
                    subs.append(group(f"Region {r} sub {s}", leaves))
                else:
                    subs.append(group(f"Region {r} sub {s}", sub))
            regions.append(group(f"Region {r}", subs))
        groups["0000"] = ("World", regions)
        # development status: a second partition of the same economies
        dev = list(rng.permutation(econ))
        cut = len(dev) // 4
        developed = group("Developed economies",
                          [group("Developed Europe", [str(x) for x in dev[:cut // 2]]),
                           group("Developed other", [str(x) for x in dev[cut // 2:cut]])])
        developing = group("Developing economies",
                           [group(f"Developing {i}", [str(x) for x in part])
                            for i, part in enumerate(np.array_split(dev[cut:], 4))])
        group("Development status", [developed, developing])
        # flat groupings with overlapping membership
        while sum(len(ch) for _, ch in groups.values()) < 2150:
            k = int(rng.integers(5, 80))
            group(f"Grouping {next_code[0]}", sorted(str(x) for x in rng.choice(econ, k, replace=False)))
        groups[OTHER_TERRITORIES[0]] = (OTHER_TERRITORIES[1], list(NES_CHILDREN))
        self.groups = groups
        for code, (label, _) in groups.items():
            self.labels[code] = label

    def _leaves(self, code: str) -> list[str]:
        if code not in self.groups:
            return [code]
        return [leaf for ch in self.groups[code][1] for leaf in self._leaves(ch)]

    # ---------------------------------------------------------- expected
    def _expected(self) -> None:
        # remap Tanzania's parts and Czechoslovakia's successors, group-sum
        fact: dict[tuple[str, int, str], list] = {}
        for var, series in ((CONSTANT, self.constant), (CURRENT, self.current)):
            for (c, y), v in series.items():
                if c in TANZANIA_PARTS:
                    c = TANZANIA
                elif c in (CZECHIA, SLOVAKIA) and y in (1991, 1992):
                    c = CZECHOSLOVAKIA
                fact.setdefault((c, y, var), []).append(v)
        vals = {k: float(sum(x for x in v if x is not None)) for k, v in fact.items()}
        # estimate the last year
        for c in {k[0] for k in vals}:
            base = vals[c, LAST_DATA_YEAR, CONSTANT]
            g = self.growth.get(c)
            est = None if g is None else base * (1.0 + g / 100.0)
            d = self._usd_deflator(c, LAST_YEAR) if (c, LAST_YEAR) in self.fx else None
            cur = None if est is None or d is None else est * d / 100.0
            vals[c, LAST_YEAR, CONSTANT] = None if est is None else _bround(est)
            vals[c, LAST_YEAR, CURRENT] = None if cur is None else _bround(cur)
        # validity filter (codes without a dim row are dropped too)
        ind = {k: v for k, v in vals.items()
               if k[0] in self.valid and self.valid[k[0]][0] <= k[1] <= self.valid[k[0]][1]}
        grp: dict[tuple[str, int, str], float] = {}
        for g in self.groups:
            members = self._leaves(g)
            for y in YEARS + [LAST_YEAR]:
                for var in (CONSTANT, CURRENT):
                    xs = [ind[m, y, var] for m in members if (m, y, var) in ind]
                    if xs:
                        grp[g, y, var] = float(sum(x for x in xs if x is not None))
        self.expected_individual = ind
        self.expected_group = grp
        self.expected_update = {**ind, **grp}

    # --------------------------------------------------------- old release
    def _make_old_release(self) -> None:
        """Previous publication: the new values, except revised values
        (QA 1/2), values the new release dropped (QA 3) and new values the
        old one lacked (QA 4)."""
        rng = self.rng
        old = {}
        for (c, y, var), v in self.expected_update.items():
            old[c, y, var] = v
        inds = sorted(c for c in self.economies if c in self.valid)
        revised = rng.choice(inds, 12, replace=False)
        for c in revised:
            for y in range(int(rng.integers(1980, 2015)), LAST_YEAR + 1):
                for var in (CONSTANT, CURRENT):
                    if old.get((c, y, var)) is not None:
                        old[c, y, var] = old[c, y, var] * float(rng.uniform(0.9, 1.1)) + 3.0
        for c in rng.choice(inds, 5, replace=False):   # new values the old release lacked
            for y in (2020, 2021, 2022):
                old.pop((c, y, CONSTANT), None)
                old.pop((c, y, CURRENT), None)
        for c in rng.choice(inds, 5, replace=False):   # values the new release lacks
            y0 = self.valid[c][0] if self.valid[c][0] > FIRST_YEAR else FIRST_YEAR
            for y in (y0 - 3, y0 - 2, y0 - 1):
                old[c, y, CONSTANT] = 1000.0 + y
                old[c, y, CURRENT] = 2000.0 + y
        self.expected_old = old

    def expected_comparison(self) -> dict:
        """(code, year, variable) -> (old value, new value) of the full
        outer join ``comparison_with_old_release`` makes: the old release
        melts both measures of every (economy, year) row it has."""
        old_side = {(c, y, v): self.expected_old.get((c, y, v))
                    for c, y in {(c, y) for c, y, _ in self.expected_old}
                    for v in (CONSTANT, CURRENT)}
        new = self.expected_update
        return {k: (old_side.get(k), new.get(k)) for k in old_side.keys() | new.keys()}

    def expected_qa(self) -> dict:
        """Row keys of the five ``plans.qa`` reports, in the form the
        benchmark's check compares."""
        cmp = {k: v for k, v in self.expected_comparison().items() if len(k[0]) < 4}
        out: dict = {}

        def report(pred) -> list:
            years: dict = {}
            for (c, y, var), (old, new) in cmp.items():
                if pred(y, old, new):
                    years.setdefault((c, var), []).append(y)
            return sorted((c, var, _islands(ys)) for (c, var), ys in years.items())

        out["qa_discrepancies"] = report(
            lambda y, o, n: y != LAST_YEAR and o is not None and n is not None and abs(n - o) > 2.0)
        out["qa_missing"] = report(lambda y, o, n: n is None and o is not None)
        out["qa_added"] = report(lambda y, o, n: n is not None and o is None)
        ratios = []
        for (c, y, var), (old, new) in cmp.items():
            if y == LAST_YEAR:
                ok = old is not None and new is not None and old != 0 and new / old > 0
                ratios.append((abs(math.log(new / old)) if ok else None, c, var))
        ratios.sort(key=lambda r: (r[0] is None, -(r[0] or 0.0), r[1], r[2]))
        out["qa_top_last_year"] = [(c, var) for _, c, var in ratios[:19]]
        # deflator check: implied 100*current/constant vs the USD deflator
        defl = {}
        for c in {c for c, _ in self.constant}:
            for y in YEARS + [LAST_YEAR]:
                if c in CPI_ECONOMIES and y != LAST_YEAR:
                    continue
                d = self._usd_deflator(c, y)
                if d is not None:
                    defl[c, y] = d
        worst: dict = {}
        for (c, y, var), cur in self.expected_update.items():
            if var != CURRENT or y == LAST_YEAR:
                continue
            const = self.expected_update.get((c, y, CONSTANT))
            if cur is None or const is None or const == 0 or (c, y) not in defl:
                continue
            diff = 100.0 * cur / const - defl[c, y]
            if abs(diff) > 1.0:
                worst.setdefault(self.labels[c], []).append((abs(diff), c, y))
        out["qa_deflator_check"] = sorted(
            (c, y) for rows in worst.values() for a, c, y in rows
            if a == max(r[0] for r in rows))
        return out

    # -------------------------------------------------------------- write
    def write(self, out_dir: str) -> dict[str, int]:
        """Write the CSV inputs; returns data rows per file."""
        os.makedirs(out_dir, exist_ok=True)
        rows: dict[str, list[list]] = {}
        rows["dim_countries"] = [
            [c, self.labels[c], lo, hi, "False" if c in NES_CHILDREN else "True"]
            for c, (lo, hi) in sorted(self.valid.items()) if c not in TANZANIA_PARTS
        ] + [[g, self.labels[g], 1940, 2102, "False"] for g in sorted(self.groups)]
        hier = []
        for g, (label, children) in sorted(self.groups.items()):
            for ch in children:
                is_group = ch in self.groups
                target = "False" if is_group or ch in NES_CHILDREN else "True"
                lo, hi = (1940, 2102) if is_group else self.valid[ch]
                hier.append([g, label, 1940, 2102, "False", ch, self.labels[ch], lo, hi, target])
        rows["hierarchy"] = hier
        rows["labels"] = [[c, lab] for c, lab in sorted(self.labels.items())]
        feed_codes = sorted({c for c, _ in self.constant})
        for name, series in (("unsd_constant", self.constant), ("unsd_current", self.current)):
            body = []
            for c in feed_codes:
                body.append([int(c), self.labels.get(c, f"Economy {c}"), GDP_INDICATOR]
                            + [_num(series[c, y]) for y in YEARS])
                if int(c) % 9 == 0:  # other indicators the stage must filter out
                    body.append([int(c), self.labels.get(c, f"Economy {c}"), "Exports of goods"]
                                + [_num(series[c, y]) for y in YEARS])
            rows[name] = body
        grow = []
        for c, g in sorted(self.growth.items()):
            code = USA_GROWTH_ALIAS if c == USA else c
            grow.append([code, self.labels.get(c, c)] + ["1.5"] * (LAST_YEAR - 1990) + [repr(g)])
        rows["growth_rates"] = grow
        cpi, defl, fx = [], [], []
        for c in feed_codes:
            lab = self.labels.get(c, f"Economy {c}")
            for y in YEARS + [LAST_YEAR]:
                d, f = self.defl_lcu[c, y], self.fx[c, y]
                if c in CPI_ECONOMIES:
                    cpi.append([c, lab, y, repr(d)])
                    continue
                if not (c == NO_BASE_YEAR_ECONOMY and y == BASE_YEAR):
                    defl.append([c, lab, y, repr(d)])
                fx.append([c, lab, y, repr(f)])
        rows["cpi"], rows["deflators"], rows["exchange_rates"] = cpi, defl, fx
        old_rows = []
        keys = sorted({(c, y) for c, y, _ in self.expected_old})
        for c, y in keys:
            lab = PATCHED_LABELS[c][1] if c in PATCHED_LABELS else self.labels[c]
            old_rows.append([lab, y, _num(self.expected_old.get((c, y, CURRENT))), "", "",
                             _num(self.expected_old.get((c, y, CONSTANT))), "", ""])
        rows["old_release"] = old_rows
        headers = {
            "dim_countries": ["Code", "Label", "ValidFrom", "ValidTo", "IsTarget"],
            "hierarchy": [f"{s}_{f}" for s in ("Parent", "Child")
                          for f in ("Code", "Label", "ValidFrom", "ValidTo", "IsTarget")],
            "labels": ["Code", "Label"],
            "unsd_constant": ["CountryID", "Country", "IndicatorName"] + [str(y) for y in YEARS],
            "growth_rates": ["UNCTcc", "Country/Region"] + [str(y) for y in range(1990, LAST_YEAR + 1)],
            "old_release": [f.split()[0] for f in CSV_SCHEMAS["old_release"].split(", ")],
        }
        headers["unsd_current"] = headers["unsd_constant"]
        for n in ("cpi", "deflators", "exchange_rates"):
            headers[n] = ["Country_Code", "Country_Label", "Year", "Value"]
        for name, body in rows.items():
            with open(os.path.join(out_dir, f"{name}.csv"), "w", newline="") as fh:
                w = csv.writer(fh, lineterminator="\n")
                w.writerow(headers[name])
                w.writerows(body)
        return {name: len(body) for name, body in rows.items()}


def _num(v: float | None) -> str:
    return "" if v is None else repr(v)


def _islands(years: list[int]) -> str:
    """``[1999, 2000, 2001, 2005]`` -> ``"1999-2001, 2005"``."""
    ys = sorted(set(years))
    runs, start = [], ys[0]
    for prev, nxt in zip(ys, ys[1:] + [None]):
        if nxt is None or nxt != prev + 1:
            runs.append(str(start) if start == prev else f"{start}-{prev}")
            start = nxt
    return ", ".join(runs)


def _bround(x: float) -> float:
    """Half-to-even rounding to an integer, like ``F.bround(x, 0)``."""
    return float(round(x))
