#!/usr/bin/env python3
"""Seeded raw-credits generator for the DWW workloads, with planted truth.

Usage: gen_credits.py OUTDIR SEED [N_CREDITS]

Writes the inputs of `Normalize.credits` (raw credits plus the company map,
role map, locations, regions and global-region dimensions) as parquet, and
the planted truth the output checks compare against (`truth.json`).

The dimensions follow the reference's shapes: about 549 company-map search
strings for fewer canonical studios (suffixed and misspelled variants, so
`matchRatio` < 100 occurs, plus search strings mapped to `zzz_baddata`
sentinels), about 543 role strings for 83 canonical roles, multi-date
release lists whose first parseable entry wins, Zipf credits per person and
Zipf studio popularity. The same seed gives byte-identical files.

The truth is computed here, independently of the program: what the notes
parser yields for each generated note, which rows the sentinel filter and
the (person, company, movie) first-wins dedup drop, and from those the
serving rows, jumps, dummies, density totals and path pairs.
"""
import datetime
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

N_STUDIOS = 146          # real canonical studios
N_COMPANY_SEARCH = 549   # company-map rows, sentinel strings included
N_ROLES = 83
N_ROLE_SEARCH = 543
MONTHS = ['January', 'February', 'March', 'April', 'May', 'June', 'July',
          'August', 'September', 'October', 'November', 'December']
# syllables avoid every token the notes parser strips or splits on
# ("as", "inc", "ltd", "episodes", "uncredited", ':', ',', ' - ')
SYL = ['ko', 'va', 'ri', 'mo', 'ten', 'lu', 'bar', 'ze', 'nor', 'fi', 'dra',
       'pel', 'qui', 'sto', 'ma', 'gel', 'tor', 'vin', 'yo', 'ha', 'ber', 'lo',
       'xen', 'pu', 'dor', 'wil', 'sen', 'kal', 'rup', 'te']
STUDIO_WORDS = ['pixel', 'works', 'digital', 'frame', 'light', 'motion',
                'forge', 'vision', 'labs', 'effects', 'image', 'post']
SUFFIXES = ['studios', 'vfx', 'pictures', 'animation', 'entertainment']
ROLE_NOUNS = ['compositor', 'animator', 'modeler', 'rigger', 'lighter',
              'matte painter', 'roto artist', 'tracker', 'texture artist',
              'fx artist', 'layout artist', 'producer', 'coordinator',
              'supervisor', 'editor', 'colorist', 'designer', 'engineer',
              'developer', 'technical director', 'paint artist']
ROLE_ADJ = ['', 'lead', 'senior', 'junior', 'digital', 'cg']
ROLE_VARIANTS = ['{}', '{} artist', 'assistant {}', '{} ii', 'key {}',
                 'additional {}', '{} trainee', 'chief {}', 'head {}']
SENTINEL_COMPANIES = ['zzz_baddata', 'zzz_baddata unknown', 'zzz_baddata various']
SENTINEL_COMPANY_SEARCH = ['unknown company', 'various studios', 'tba studio',
                           'self', 'unknown vendor', 'various vendors',
                           'tba', 'none listed', 'not known']
SENTINEL_ROLE_SEARCH = ['thanks', 'special thanks', 'very special thanks',
                        'dedicatee', 'in memory of', 'the crew wishes to thank']
CITIES = [  # (city, lat, lon, region)
    ('wellington', -41.29, 174.78, 'oceania'), ('auckland', -36.85, 174.76, 'oceania'),
    ('sydney', -33.87, 151.21, 'oceania'), ('melbourne', -37.81, 144.96, 'oceania'),
    ('london', 51.51, -0.13, 'europe'), ('paris', 48.86, 2.35, 'europe'),
    ('berlin', 52.52, 13.40, 'europe'), ('munich', 48.14, 11.58, 'europe'),
    ('stockholm', 59.33, 18.07, 'europe'), ('madrid', 40.42, -3.70, 'europe'),
    ('vancouver', 49.28, -123.12, 'north america'), ('montreal', 45.50, -73.57, 'north america'),
    ('toronto', 43.65, -79.38, 'north america'), ('los angeles', 34.05, -118.24, 'north america'),
    ('san francisco', 37.77, -122.42, 'north america'), ('new york', 40.71, -74.01, 'north america'),
    ('atlanta', 33.75, -84.39, 'north america'), ('mexico city', 19.43, -99.13, 'latin america'),
    ('sao paulo', -23.55, -46.63, 'latin america'), ('buenos aires', -34.60, -58.38, 'latin america'),
    ('mumbai', 19.08, 72.88, 'south asia'), ('hyderabad', 17.39, 78.49, 'south asia'),
    ('chennai', 13.08, 80.27, 'south asia'), ('singapore', 1.35, 103.82, 'east asia'),
    ('seoul', 37.57, 126.98, 'east asia'), ('tokyo', 35.68, 139.69, 'east asia'),
    ('beijing', 39.90, 116.41, 'east asia'), ('shanghai', 31.23, 121.47, 'east asia'),
    ('cape town', -33.92, 18.42, 'africa'), ('johannesburg', -26.20, 28.05, 'africa'),
]
REGION_COORDS = {'oceania': '-25.0,140.0', 'europe': '50.0,9.0',
                 'north america': '45.0,-100.0', 'latin america': '-15.0,-60.0',
                 'south asia': '20.0,78.0', 'east asia': '35.0,115.0',
                 'africa': '0.0,20.0'}
COUNTRIES = ['USA', 'UK', 'New Zealand', 'Germany', 'France', 'Japan', 'Canada']


def zipf_weights(n, s):
    return [1.0 / (r ** s) for r in range(1, n + 1)]


class Gen:
    def __init__(self, seed):
        self.rnd = random.Random(seed)

    def word(self, k):
        return ''.join(self.rnd.choice(SYL) for _ in range(k))

    def misspell(self, s):
        """One edit that keeps the string free of parser-significant text."""
        i = self.rnd.randrange(1, len(s) - 1)
        op = self.rnd.randrange(3)
        if op == 0 and s[i] != ' ':                       # drop a char
            return s[:i] + s[i + 1:]
        if op == 1 and s[i] != ' ' and s[i + 1] != ' ':   # swap two chars
            return s[:i] + s[i + 1] + s[i] + s[i + 2:]
        return s[:i] + s[i] + s[i:]                       # double a char


def build_dims(g):
    rnd = g.rnd
    names = set()
    studios = []
    while len(studios) < N_STUDIOS:
        n = f'{g.word(2).capitalize()} {rnd.choice(STUDIO_WORDS).capitalize()}'
        if n.lower() not in names:
            names.add(n.lower())
            studios.append(n)
    # company map: every studio's own lowercase name, then suffixed and
    # misspelled variants until the map has N_COMPANY_SEARCH rows
    cmap = {}   # search -> (name, id)
    for i, n in enumerate(studios):
        cmap[n.lower()] = (n, f'c{i:04d}')
    for j, s in enumerate(SENTINEL_COMPANY_SEARCH):
        cmap[s] = (SENTINEL_COMPANIES[j % len(SENTINEL_COMPANIES)], f'z{j:03d}')
    while len(cmap) < N_COMPANY_SEARCH:
        i = rnd.randrange(N_STUDIOS)
        base = studios[i].lower()
        v = (f'{base} {rnd.choice(SUFFIXES)}' if rnd.random() < 0.5
             else g.misspell(base))
        if v not in cmap and v not in names:
            cmap[v] = (studios[i], f'c{i:04d}')
    variants = {i: [] for i in range(N_STUDIOS)}
    for s, (n, cid) in sorted(cmap.items()):
        if cid.startswith('c'):
            variants[int(cid[1:])].append(s)

    roles = []
    seen = set()
    while len(roles) < N_ROLES:
        r = f'{rnd.choice(ROLE_ADJ)} {rnd.choice(ROLE_NOUNS)}'.strip()
        if r not in seen:
            seen.add(r)
            roles.append(r)
    rmap = {}   # search -> canonical name
    for r in roles:
        rmap[r] = r.title()
    for s in SENTINEL_ROLE_SEARCH:
        rmap[s] = 'zzz_baddata'
    while len(rmap) < N_ROLE_SEARCH:
        r = rnd.choice(roles)
        v = rnd.choice(ROLE_VARIANTS).format(r)
        if v not in rmap:
            rmap[v] = r.title()
    role_variants = {r: [] for r in roles}
    for s, n in sorted(rmap.items()):
        if n != 'zzz_baddata':
            role_variants[n.lower()].append(s)

    # ~8% of studios have no location row, so they never reach serving
    locations = {}
    for n in studios:
        if rnd.random() < 0.92:
            c = rnd.choice(CITIES)
            locations[n] = (c[0], f'{c[1]},{c[2]}')
    indie = sorted({f'{g.word(3)} {rnd.choice(STUDIO_WORDS)}' for _ in range(80)}
                   - set(cmap))
    return studios, cmap, variants, roles, rmap, role_variants, locations, indie


def release_list(g, day):
    """1-4 release entries; the first PARSEABLE one is the movie's date,
    which need not be the earliest (first-match, not min)."""
    rnd = g.rnd
    y, m, d = day
    first = rnd.choice([f'{d} {MONTHS[m - 1]} {y} ({rnd.choice(COUNTRIES)})',
                        f'{rnd.choice(COUNTRIES)}::{d} {MONTHS[m - 1]} {y}',
                        f'{d} {MONTHS[m - 1]} {y}'])
    out = []
    if rnd.random() < 0.2:       # unparseable leaders are skipped
        out.append(rnd.choice([str(y), f'{MONTHS[m - 1]} {y}']))
    out.append(first)
    for _ in range(rnd.randrange(0, 3)):
        oy = y + rnd.randrange(-1, 2)
        out.append(f'{rnd.randrange(1, 29)} {rnd.choice(MONTHS)} {oy} ({rnd.choice(COUNTRIES)})')
    return out, f'{y:04d}-{m:02d}-{d:02d}'


def generate(out, seed, n_credits=6000):
    g = Gen(seed)
    rnd = g.rnd
    studios, cmap, variants, roles, rmap, role_variants, locations, indie = build_dims(g)

    # movie pool with distinct first-parseable dates, so every person's
    # credits have a strict time order
    n_movies = max(n_credits // 3, 100)
    days = rnd.sample(range(0, 40 * 365), n_movies)
    movies = []
    for k, off in enumerate(days):
        day = datetime.date(1980, 1, 1) + datetime.timedelta(days=off)
        rl, rs = release_list(g, (day.year, day.month, day.day))
        movies.append((f'tt{k:07d}', f'Movie {g.word(2)} {k}', rl, rs))

    studio_w = zipf_weights(N_STUDIOS, 1.1)
    studio_order = list(range(N_STUDIOS))
    rnd.shuffle(studio_order)
    role_w = zipf_weights(N_ROLES, 1.0)
    credit_w = zipf_weights(60, 1.3)

    raw = []      # (personId, personName, movieId, movieTitle, releaseDates, notes)
    parsed = []   # parallel: (role, companySearch) the notes parser yields
    p = 0
    while len(raw) < n_credits:
        pid = f'nm{p:07d}'
        pname = f'{g.word(2).capitalize()} {g.word(3).capitalize()}'
        k = min(rnd.choices(range(1, 61), weights=credit_w)[0], n_credits - len(raw))
        for mi in rnd.sample(range(n_movies), k):
            if len(raw) >= n_credits:
                break
            mid, title, rl, _ = movies[mi]
            u = rnd.random()
            role = rmap_choice(rnd, roles, role_w, role_variants)
            if u < 0.02:                              # no role:company split
                notes, pr = 'Thanks to the crew', ('', '')
            else:
                if u < 0.08:
                    search = rnd.choice(indie)            # unmapped company
                elif u < 0.11:
                    search = rnd.choice(SENTINEL_COMPANY_SEARCH)
                else:
                    si = studio_order[rnd.choices(range(N_STUDIOS), weights=studio_w)[0]]
                    vs = variants[si]
                    search = vs[0] if rnd.random() < 0.5 else rnd.choice(vs)
                notes, pr = render_note(rnd, role, search)
            raw.append((pid, pname, mid, title, rl, notes))
            parsed.append(pr)
            # planted duplicate: same person, movie and canonical studio
            # through another search variant of it (first-wins dedup input)
            if pr[1] in cmap and cmap[pr[1]][1].startswith('c') and rnd.random() < 0.04 \
                    and len(raw) < n_credits:
                vs = variants[int(cmap[pr[1]][1][1:])]
                role2 = rmap_choice(rnd, roles, role_w, role_variants)
                notes2, pr2 = render_note(rnd, role2, rnd.choice(vs))
                raw.append((pid, pname, mid, title, rl, notes2))
                parsed.append(pr2)
        p += 1
    order = list(range(len(raw)))
    rnd.shuffle(order)
    raw = [raw[i] for i in order]
    parsed = [parsed[i] for i in order]

    os.makedirs(out, exist_ok=True)
    cols = list(zip(*raw))
    pq.write_table(pa.table({
        'personId': pa.array(cols[0], pa.string()),
        'personName': pa.array(cols[1], pa.string()),
        'movieId': pa.array(cols[2], pa.string()),
        'movieTitle': pa.array(cols[3], pa.string()),
        'releaseDates': pa.array(cols[4], pa.list_(pa.string())),
        'notes': pa.array(cols[5], pa.string()),
    }), os.path.join(out, 'raw_credits.parquet'))
    cm = sorted(cmap.items())
    pq.write_table(pa.table({
        'search': [s for s, _ in cm], 'name': [v[0] for _, v in cm],
        'id': [v[1] for _, v in cm]}), os.path.join(out, 'company_map.parquet'))
    rm = sorted(rmap.items())
    pq.write_table(pa.table({'search': [s for s, _ in rm], 'name': [n for _, n in rm]}),
                   os.path.join(out, 'role_map.parquet'))
    lo = sorted(locations.items())
    pq.write_table(pa.table({
        'company': [c for c, _ in lo], 'location': [v[0] for _, v in lo],
        'geoLoc': [v[1] for _, v in lo]}), os.path.join(out, 'locations.parquet'))
    pq.write_table(pa.table({
        'location': [c[0] for c in CITIES], 'globalRegion': [c[3] for c in CITIES]}),
        os.path.join(out, 'regions.parquet'))
    rc = sorted(REGION_COORDS.items())
    pq.write_table(pa.table({'region': [r for r, _ in rc], 'coords': [c for _, c in rc]}),
                   os.path.join(out, 'global_regions.parquet'))

    truth = plant_truth(raw, parsed, cmap, rmap, locations, {m[0]: m[3] for m in movies})
    with open(os.path.join(out, 'truth.json'), 'w') as f:
        json.dump(truth, f, sort_keys=True, separators=(',', ':'))
    return truth


def rmap_choice(rnd, roles, role_w, role_variants):
    if rnd.random() < 0.04:
        return rnd.choice(SENTINEL_ROLE_SEARCH)
    r = roles[rnd.choices(range(N_ROLES), weights=role_w)[0]]
    return rnd.choice(role_variants[r])


def render_note(rnd, role, search):
    """A free-text note whose parse is (role, search), with the decorations
    the parser strips (symbols, case, "(uncredited)", "(as ...)", "Ltd.",
    episode lists) or folds (the "role: division, company" form)."""
    comp = search.title() if rnd.random() < 0.5 else search
    u = rnd.random()
    if u < 0.05:
        unit = rnd.randrange(1, 9)
        return f'{role.title()}: Unit {unit}, {comp}', (f'{role}, unit {unit}', search)
    deco = ''
    if u < 0.15:
        deco = ' (uncredited)'
    elif u < 0.22:
        deco = ' (as J. Doe)'
    elif u < 0.28:
        deco = ' Ltd.'
    elif u < 0.33:
        deco = f' ({rnd.randrange(2, 40)} episodes, 2004-2005)'
    return f'{role.title()}: {comp}{deco}', (role, search)


def plant_truth(raw, parsed, cmap, rmap, locations, movie_date):
    """The expected result of every DWW stage, derived from the generated
    notes' known parse (not from the program)."""
    city = {c[0]: c for c in CITIES}
    sentinel = 0
    best = {}
    for (pid, pname, mid, _, _, _), (role, search) in zip(raw, parsed):
        name, cid = cmap.get(search, (search, ''))
        if name.startswith('zzz_baddata'):
            sentinel += 1
            continue
        rs = movie_date[mid]
        rec = {'pid': pid, 'pname': pname, 'mid': mid, 'rs': rs, 'role': role,
               'search': search, 'name': name, 'cid': cid, 'mapped': search in cmap}
        k = (pid, name, mid)
        order = (rs, mid, role, search)
        if k not in best or order < best[k][0]:
            best[k] = (order, rec)
    fact = [best[k][1] for k in sorted(best)]
    for r in fact:
        tr = rmap.get(r['role'], '')
        r['trueRole'] = '' if tr.startswith('zzz_baddata') else tr
        loc = locations.get(r['name']) if r['mapped'] else None
        r['location'], r['geoLoc'] = loc if loc else (None, None)
        r['region'] = city[loc[0]][3] if loc else None

    serving = {}
    for r in fact:
        if r['mapped'] and r['geoLoc']:
            serving.setdefault(r['pid'], []).append(r)
    jumps, density = {}, {}
    for pid, rows in sorted(serving.items()):
        rows.sort(key=lambda r: (r['rs'], r['mid']))
        js = [r for i, r in enumerate(rows) if i == 0 or r['name'] != rows[i - 1]['name']]
        jumps[pid] = {'name': rows[0]['pname'], 'rels': [
            [r['name'], r['cid'], r['location'], r['region'], r['trueRole'], r['rs'],
             r['geoLoc']] for r in js]}
        # densityCalc.js: skip a credit with the same year and company as
        # the next one; fill [year, max(year, nextYear - 1)]; the last
        # credit counts its own year only; the total leaves out role ""
        for i, r in enumerate(rows):
            y = int(r['rs'][:4])
            nxt = rows[i + 1] if i + 1 < len(rows) else None
            ny = int(nxt['rs'][:4]) if nxt else None
            if nxt and ny == y and nxt['name'] == r['name']:
                continue
            end = y if nxt is None else max(y, ny - 1)
            for yy in range(y, end + 1):
                k = f"{r['name']}|{yy}"
                density[k] = density.get(k, 0) + (r['trueRole'] != '')

    edges, role_paths = {}, {}
    for doc in jumps.values():
        rels = doc['rels']
        for a, b in zip(rels, rels[1:]):
            edges[f'{a[1]}>{b[1]}'] = edges.get(f'{a[1]}>{b[1]}', 0) + 1
            role_paths[a[4]] = role_paths.get(a[4], 0) + 1
    nodes = {rel[1] for d in jumps.values() for rel in d['rels']}
    return {
        'rows_in': len(raw),
        'sentinel_dropped': sentinel,
        'dedup_dropped': len(raw) - sentinel - len(fact),
        'rows_out': len(fact),
        'mapped': sum(r['mapped'] for r in fact),
        'ratio_below_100': sum(r['mapped'] and r['search'] != r['name'].lower()
                               for r in fact),
        'empty_true_role': sum(r['trueRole'] == '' for r in fact),
        'serving_rows': sum(len(v) for v in serving.values()),
        'jumps': jumps,
        'density_totals': density,
        'role_paths': role_paths,
        'graph': {'nodes': len(nodes), 'edges': len(edges),
                  'weight': sum(edges.values())},
    }


if __name__ == '__main__':
    a = sys.argv[1:]
    if len(a) < 2:
        sys.exit(__doc__)
    generate(a[0], int(a[1]), *(int(x) for x in a[2:3]))
