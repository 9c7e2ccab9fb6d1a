"""Seeded input generator for the benchmark.

Writes, under one output directory:

  990/std/NNeoextract990_<year>.csv     standard 990 extracts, reference raw headers
  990/ez/NNeoextract990EZ_<year>.csv    990-EZ extracts
  990/pf/NNeoextract990pf_<year>.csv    990-PF extracts (uppercase headers)
  ipeds/IPEDS<year>.csv                 wide IPEDS files, year-prefixed labels
  master_seed.csv                       the master seed table
  truth/name_pairs.csv                  planted (unitid, ein) name-variant pairs
  truth/acreage_updates.csv             acreage survey results for the write mix
  truth/new_filings.csv                 new 990 filers for the write mix
  manifest.json                         counts of everything above

Only the files outside `truth/` are program inputs; `truth/` is read by the
benchmark client to check answers and to drive the dashboard write mix.

The proportions follow BASELINE.md: 990 filing types 98.5 / 1.2 / 0.4 %,
IPEDS accounting standards FASB 1570 / GASB 1469 / for-profit 520 /
none 2353, about 134 EIN-sharing subsidiaries, missing years,
ceased-operations flags, likely-closed units and planted name variants.
Every count is multiplied by `scale`.

Usage: python3 gen.py --seed N --scale S --out DIR
"""

import argparse
import csv
import json
import os
import random

YEARS = [2020, 2021, 2022, 2023, 2024]

# full-scale counts (BASELINE.md)
N_990 = {"STD": 8703, "EZ": 105, "PF": 32}
N_IPEDS = {"fasb": 1570, "gasb": 1469, "for_profit": 520, "none": 2353}
N_SUBSIDIARIES = 134
N_OTHER_MASTER = 9000
N_ACREAGE_UPDATES = 4000
N_NEW_FILINGS = 2000

STATES = ["CA", "TX", "NY", "FL", "PA", "IL", "OH", "MA", "NC", "MI", "GA",
          "VA", "NJ", "WA", "MO", "TN", "IN", "MN", "WI", "CO", "AL", "SC",
          "KY", "OR", "LA", "OK", "IA", "CT", "KS", "AR", "UT", "MS", "NE",
          "NM", "WV", "ME", "NH", "ID", "HI", "MT", "RI", "DE", "SD", "ND",
          "VT", "AK", "WY", "NV", "AZ", "MD", "DC"]

SYLLABLES = ["bar", "cal", "den", "fair", "glen", "har", "ken", "lin", "mar",
             "nor", "ol", "pen", "quin", "ros", "sal", "tor", "val", "wes",
             "yar", "zel", "ash", "bel", "cor", "dal", "el", "fen", "gar",
             "hol", "ing", "jas", "lor", "mon", "ner", "or", "pal", "ril"]
ENDINGS = ["ton", "field", "wood", "dale", "ford", "ville", "more", "ridge",
           "brook", "haven", "mont", "stead", "wick", "port", "view", "land"]
IPEDS_TYPES = ["University", "College", "Community College", "Institute",
               "State University", "Technical College", "Academy",
               "School of Nursing", "Seminary", "Conservatory"]
F990_TYPES = ["Foundation", "Association", "Society", "Trust", "Fund",
              "Alliance", "Center", "Council", "Hospital", "Ministries"]

STD_HEADER = [
    "EIN", "tax_pd", "totrevenue", "totprgmrevnue", "totcntrbgfts",
    "invstmntinc", "totfuncexpns", "compnsatncurrofcr", "othrsalwages",
    "pensionplancontrb", "othremplyeebenef", "payrolltx", "profndraising",
    "totassetsend", "totliabend", "totnetassetend", "unrstrctnetasstsend",
    "nonintcashend", "svngstempinvend", "accntsrcvblend", "accntspayableend",
    "deferedrevnuend", "secrdmrtgsend", "unsecurednotesend",
    "lndbldgsequipend", "paybletoffcrsend", "currfrmrcvblend",
    "noemplyeesw3cnt", "ceaseoperationscd", "sellorexchcd"]
EZ_HEADER = ["EIN", "taxpd", "totrevnue", "prgmservrev", "totcntrbs",
             "othrinvstinc", "totexpns", "totassetsend", "totliabend",
             "totnetassetsend", "contractioncd", "subseccd"]
PF_HEADER = ["EIN", "TAX_PRD", "TOTRCPTPERBKS", "GRSCONTRGIFTS",
             "TOTEXPNSPBKS", "TOTASSETSEND", "TOTLIABEND", "TFUNDNWORTH",
             "OTHRCASHAMT", "CONTRACTNCD"]


def scaled(n, scale):
    return max(1, int(round(n * scale)))


def money(x):
    return "%d" % int(round(x))


class Gen:
    def __init__(self, seed, scale):
        self.r = random.Random(seed)
        self.scale = scale
        self.used_names = set()
        self.used_eins = set()
        self.words = self._vocabulary(4000)

    def _vocabulary(self, n):
        r = self.r
        out, seen = [], set()
        while len(out) < n:
            w = r.choice(SYLLABLES) + r.choice(SYLLABLES) + r.choice(ENDINGS)
            if w not in seen:
                seen.add(w)
                out.append(w)
        return out

    def state(self):
        # Zipf-like state popularity: a few large states hold most rows
        r = self.r
        i = min(int(r.paretovariate(1.1)) - 1, len(STATES) - 1)
        return STATES[i]

    def content(self, k):
        return " ".join(self.r.choice(self.words).capitalize() for _ in range(k))

    def unique_name(self, types):
        while True:
            name = "%s %s" % (self.content(self.r.choice([2, 3, 3])),
                              self.r.choice(types))
            if name not in self.used_names:
                self.used_names.add(name)
                return name

    def ein(self):
        while True:
            e = "%09d" % self.r.randrange(1000000, 999999999)
            if e not in self.used_eins:
                self.used_eins.add(e)
                return e

    def variant(self, name):
        """A 990-side spelling of an IPEDS name: upper case, punctuation,
        'The'/'Inc', and sometimes a one-letter typo in a content word."""
        r = self.r
        words = name.split(" ")
        kind = r.random()
        if kind < 0.35:
            i = r.randrange(len(words))
            w = words[i]
            if len(w) > 4:
                j = r.randrange(1, len(w) - 2)
                w = w[:j] + w[j + 1] + w[j] + w[j + 2:]
                words[i] = w
        out = " ".join(words)
        if r.random() < 0.4:
            out = "The " + out
        if r.random() < 0.3:
            out = out + ", Inc."
        return out.upper() if r.random() < 0.7 else out


def financials(r, size, distress):
    """(revenue, expenses, assets, liabilities) for one entity-year."""
    revenue = size * r.uniform(0.9, 1.1)
    expenses = revenue * r.uniform(0.85, 1.0 + 0.3 * distress)
    assets = size * r.uniform(1.0, 4.0) * (1.2 - distress)
    liabilities = assets * r.uniform(0.1, 0.5 + 0.8 * distress)
    return revenue, expenses, assets, liabilities


def write_csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="", encoding="latin-1") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def generate(seed, scale, out):
    g = Gen(seed, scale)
    r = g.r
    counts = {}

    # ---- IPEDS units -------------------------------------------------
    units = []
    uid = 100000
    for std, n in N_IPEDS.items():
        for _ in range(scaled(n, scale)):
            uid += r.randrange(1, 40)
            units.append({
                "unitid": uid, "std": std, "name": g.unique_name(IPEDS_TYPES),
                "state": g.state(), "size": r.lognormvariate(17.0, 1.2),
                "enroll": int(r.lognormvariate(7.5, 1.1)) + 50,
                "distress": r.betavariate(2, 5), "ein": None,
                "closed": r.random() < 0.03, "parent": None})
    r.shuffle(units)

    # 990 filers: the nonprofit universe, with filing types 98.5/1.2/0.4 %
    filers = []
    for ftype, n in N_990.items():
        for _ in range(scaled(n, scale)):
            filers.append({"ein": g.ein(), "type": ftype,
                           "name": g.unique_name(F990_TYPES),
                           "state": g.state(),
                           "size": r.lognormvariate(14.5, 1.5),
                           "distress": r.betavariate(2, 5),
                           "ceases": r.random() < 0.015})
    r.shuffle(filers)

    # EINs for IPEDS units: 80% carry one; a third of those are also 990
    # standard filers (the injection path); 20% lack one, and 60% of those
    # have a 990 filer under a planted name variant (the name-match path)
    std_filers = [f for f in filers if f["type"] == "STD"]
    linked = 0
    name_pairs = []
    for u in units:
        x = r.random()
        if x < 0.27 and linked < len(std_filers) // 3:
            f = std_filers[linked]
            linked += 1
            u["ein"] = f["ein"]
            f["name"] = u["name"].upper()
            f["state"] = u["state"]
            f["linked"] = True
        elif x < 0.80:
            u["ein"] = g.ein()
        else:
            u["ein"] = None
            if r.random() < 0.6:
                ein = g.ein()
                filers.append({"ein": ein, "type": "STD",
                               "name": g.variant(u["name"]),
                               "state": u["state"],
                               "size": u["size"] / 50.0,
                               "distress": u["distress"], "ceases": False})
                name_pairs.append((u["unitid"], ein))

    # subsidiaries: a child unit shares its parent's EIN and reports total
    # assets within 1% of the parent's (parent = the larger one); a few
    # near-miss pairs share an EIN with a >= 3% asset gap and must not flag
    with_fin = [u for u in units if u["std"] != "none" and u["ein"]
                and not u["closed"]]
    n_sub = scaled(N_SUBSIDIARIES, scale)
    n_near = max(1, n_sub // 4)
    picks = r.sample(with_fin, min(len(with_fin), 2 * (n_sub + n_near)))
    for i in range(0, len(picks) - 1, 2):
        parent, child = picks[i], picks[i + 1]
        child["ein"] = parent["ein"]
        child["std"] = parent["std"]
        gap = r.uniform(0.0, 0.008) if i // 2 < n_sub else r.uniform(0.03, 0.2)
        child["parent"] = (parent, gap)
    counts["subsidiaries_planted"] = min(n_sub, len(picks) // 2)

    # ---- IPEDS CSVs --------------------------------------------------
    ipeds_rows = 0
    asset_by_unit_year = {}
    for y in YEARS:
        fy = "F%02d%02d" % ((y - 1) % 100, y % 100)
        header = [
            "unitid", "institution name (HD%d)" % y,
            "HD%d.Employer Identification Number" % y,
            "DRVEF%d.Full-time Total  enrollment" % y,       # trap: excluded
            "DRVEF%d.Part-time Total  enrollment" % y,       # trap: excluded
            "DRVEF%d.Total  enrollment" % y,
            "EF%dD.Full-time retention rate" % y,
            "DRVGR%d.Graduation rate, total cohort" % y,
            "DRVADM%d.Percent admitted - total" % y,
            "DRVEF%d.Student-to-faculty ratio" % y,
            "DRVF%d.Tuition and fees, after deducting discounts" % y,  # trap
            "%s_F2.Total assets" % fy, "%s_F2.Total liabilities" % fy,
            "%s_F2.Total net assets" % fy,
            "%s_F2.Total revenues and investment return" % fy,
            "%s_F2.Total expenses" % fy,
            "%s_F1A.Total assets" % fy, "%s_F1A.Net position" % fy,
            "%s_F1A.Total all revenues" % fy, "%s_F1A.Total expenses" % fy,
            "%s_F3.Total assets" % fy, "%s_F3.Total equity" % fy,
            "%s_F3.Total revenues and investment return" % fy,
            "%s_F3.Total expenses" % fy]
        rows = []
        # parents before their subsidiaries, so a child can copy the
        # parent's assets of the same year
        for u in sorted(units, key=lambda u: u["parent"] is not None):
            if u["closed"] and y >= 2023:
                continue
            if r.random() < 0.04 and y < 2024:
                continue                                   # missing year
            t = YEARS.index(y)
            trend = 1.0 - u["distress"] * 0.08 * t
            enroll = max(10, int(u["enroll"] * trend * r.uniform(0.95, 1.05)))
            rev, exp, assets, liab = financials(r, u["size"] * trend, u["distress"])
            if u["parent"] is not None:
                parent, gap = u["parent"]
                assets = asset_by_unit_year.get((parent["unitid"], y), assets) * (1 - gap)
            asset_by_unit_year[(u["unitid"], y)] = assets
            net = assets - liab
            fin = [""] * 13
            if u["std"] == "fasb":
                fin[0:5] = [money(assets), money(liab), money(net), money(rev), money(exp)]
            elif u["std"] == "gasb":
                fin[5:9] = [money(assets), money(net), money(rev), money(exp)]
            elif u["std"] == "for_profit":
                fin[9:13] = [money(assets), money(net), money(rev), money(exp)]
            blank = r.random() < 0.05
            rows.append([
                str(u["unitid"]), u["name"], u["ein"] or "",
                str(int(enroll * 0.7)), str(int(enroll * 0.3)),
                "" if blank else str(enroll),
                "%d" % int(85 - 40 * u["distress"] + r.uniform(-5, 5)),
                "%d" % int(70 - 45 * u["distress"] + r.uniform(-5, 5)),
                "%d" % int(r.uniform(30, 99)),
                "%d" % int(r.uniform(8, 28)),
                money(rev * 0.4)] + fin)
        write_csv(os.path.join(out, "ipeds", "IPEDS%d.csv" % y), header, rows)
        ipeds_rows += len(rows)
    counts["ipeds_units"] = len(units)
    counts["ipeds_rows"] = ipeds_rows

    # ---- 990 CSVs ----------------------------------------------------
    f990_rows = {"STD": 0, "EZ": 0, "PF": 0}
    for y in YEARS:
        by_type = {"STD": [], "EZ": [], "PF": []}
        for f in filers:
            if r.random() < 0.08:
                continue                                   # missing year
            t = YEARS.index(y)
            trend = 1.0 - f["distress"] * 0.1 * t
            rev, exp, assets, liab = financials(r, f["size"] * trend, f["distress"])
            ceased = "Y" if (f["ceases"] and y == 2024) else "N"
            taxpd = "%d%02d" % (y, r.choice([6, 9, 12]))
            ein = f["ein"].lstrip("0") if r.random() < 0.5 else f["ein"]
            if f["type"] == "STD":
                comp = exp * r.uniform(0.2, 0.6)
                cash = assets * r.uniform(0.02, 0.3) * (1.1 - f["distress"])
                row = [ein, taxpd, money(rev), money(rev * 0.6), money(rev * 0.3),
                       money(rev * 0.05), money(exp), money(comp * 0.1),
                       money(comp * 0.7), money(comp * 0.05), money(comp * 0.1),
                       money(comp * 0.05), money(rev * 0.01), money(assets),
                       money(liab), money(assets - liab),
                       money((assets - liab) * 0.6), money(cash), money(cash * 0.5),
                       money(rev * 0.08), money(exp * 0.07), money(rev * 0.05),
                       money(liab * 0.3), money(liab * 0.1), money(assets * 0.5),
                       "0", "0", str(int(f["size"] / 60000) + 1), ceased,
                       "N" if r.random() < 0.97 else "Y"]
                if r.random() < 0.03:
                    row[8] = ""                            # blank cells
                by_type["STD"].append(row)
                if r.random() < 0.01:                      # duplicate EZ filing
                    by_type["EZ"].append([ein, taxpd, money(rev), money(rev * 0.6),
                                          money(rev * 0.3), money(rev * 0.05),
                                          money(exp), money(assets), money(liab),
                                          money(assets - liab), ceased, "3"])
            elif f["type"] == "EZ":
                by_type["EZ"].append([ein, taxpd, money(rev), money(rev * 0.6),
                                      money(rev * 0.3), money(rev * 0.05),
                                      money(exp), money(assets), money(liab),
                                      money(assets - liab), ceased, "3"])
            else:
                by_type["PF"].append([ein, taxpd, money(rev), money(rev * 0.5),
                                      money(exp), money(assets), money(liab),
                                      money(assets - liab), money(assets * 0.1),
                                      ceased])
        write_csv(os.path.join(out, "990", "std", "NNeoextract990_%d.csv" % y),
                  STD_HEADER, by_type["STD"])
        write_csv(os.path.join(out, "990", "ez", "NNeoextract990EZ_%d.csv" % y),
                  EZ_HEADER, by_type["EZ"])
        write_csv(os.path.join(out, "990", "pf", "NNeoextract990pf_%d.csv" % y),
                  PF_HEADER, by_type["PF"])
        for k in by_type:
            f990_rows[k] += len(by_type[k])
    counts["f990_filers"] = len(filers)
    counts["f990_rows"] = f990_rows

    # ---- master seed ----------------------------------------------------
    master = []
    mid = 0

    def add(name, source, unitid, ein, state):
        nonlocal mid
        mid += 1
        lat = "%.5f" % r.uniform(25.0, 49.0)
        lon = "%.5f" % r.uniform(-124.0, -67.0)
        acres = "%.1f" % r.uniform(5, 900) if r.random() < 0.4 else ""
        conf = str(r.randint(1, 2)) if acres else ""
        master.append([str(mid), name, source, unitid, ein, state,
                       g.content(1), lat, lon, acres, conf])

    for u in units:
        add(u["name"], "IPEDS", str(u["unitid"]), u["ein"] or "", u["state"])
    # 990 filers linked to an IPEDS unit by EIN are that unit's master row;
    # every other filer (name-variant ones included) is a row of its own
    for f in filers:
        if not f.get("linked"):
            add(f["name"], "Hummingbird_990", "", f["ein"], f["state"])
    for _ in range(scaled(N_OTHER_MASTER, scale)):
        add(g.unique_name(IPEDS_TYPES + F990_TYPES), "Other", "", "", g.state())
    write_csv(os.path.join(out, "master_seed.csv"),
              ["master_id", "institution_name", "data_source", "unitid", "ein",
               "state", "city", "latitude", "longitude", "verified_acres",
               "acreage_conf"], master)
    counts["master_rows"] = len(master)

    # ---- truth and write-mix files (client-side only) ---------------
    write_csv(os.path.join(out, "truth", "name_pairs.csv"), ["unitid", "ein"],
              [[str(u), e] for u, e in name_pairs])
    counts["name_pairs"] = len(name_pairs)
    acre_rows = []
    for _ in range(scaled(N_ACREAGE_UPDATES, scale)):
        m = master[int(r.paretovariate(0.7) * 7) % len(master)]
        acre_rows.append([m[0], "%.1f" % r.uniform(5, 900), str(r.randint(1, 3))])
    write_csv(os.path.join(out, "truth", "acreage_updates.csv"),
              ["master_id", "verified_acres", "acreage_conf"], acre_rows)
    new_rows = []
    for i in range(scaled(N_NEW_FILINGS, scale)):
        new_rows.append([str(mid + 1 + i), g.unique_name(F990_TYPES), g.ein(),
                         g.state(), "%.4f" % r.uniform(0, 100)])
    write_csv(os.path.join(out, "truth", "new_filings.csv"),
              ["master_id", "institution_name", "ein", "state", "distress_score"],
              new_rows)
    counts["acreage_updates"] = len(acre_rows)
    counts["new_filings"] = len(new_rows)

    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "scale": scale, "counts": counts}, f,
                  indent=1, sort_keys=True)
        f.write("\n")
    return counts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.seed, a.scale, a.out), sort_keys=True))


if __name__ == "__main__":
    main()
