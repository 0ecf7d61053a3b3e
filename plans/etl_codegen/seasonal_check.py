#!/usr/bin/env python3
"""Recomputes seasonal_126 from a Dump.scala file's processed stages.

    python3 plans/etl_codegen/seasonal_check.py <dump file>

For each input, each ticker's processed rows are put in date order (the
null date first); row k has phase k mod 126 and detrended value
close - seasonal_trend_126 (the IEEE subtraction both feature forms
make). Each phase's values are summed in that order from 0.0 and divided
by their count, and the result is compared, bit for bit, with the row's
seasonal_126. Prints the rows checked and the mismatches per input.
"""
import collections
import struct
import sys


def d(h):
    return None if h == 'null' else struct.unpack('>d', struct.pack('>Q', int(h, 16)))[0]


def check(name, cols, rows):
    ix = {c: k for k, c in enumerate(cols)}
    by = collections.defaultdict(list)
    for r in rows:
        by[r[ix['ticker']]].append(r)
    checked = bad = 0
    for rs in by.values():
        rs.sort(key=lambda r: (r[ix['date']] != 'null', r[ix['date']]))
        sums = collections.defaultdict(lambda: 0.0)
        cnt = collections.Counter()
        for k, r in enumerate(rs):
            c, tr = d(r[ix['close']]), d(r[ix['seasonal_trend_126']])
            if c is not None and tr is not None:
                sums[k % 126] += c - tr
                cnt[k % 126] += 1
        for k, r in enumerate(rs):
            if k % 126 in cnt:
                checked += 1
                bad += d(r[ix['seasonal_126']]) != sums[k % 126] / cnt[k % 126]
    print(name, 'rows', len(rows), 'checked', checked, 'mismatch', bad)


def main():
    lines = open(sys.argv[1]).read().split('\n')
    name, i = None, 0
    while i < len(lines):
        if lines[i].startswith('== '):
            name = lines[i][3:]
        if lines[i].startswith('-- stage processed'):
            cols = [c.split(':')[0] for c in lines[i + 1][len('schema '):].split(',')]
            j = i + 2
            rows = []
            while j < len(lines) and lines[j].startswith('['):
                rows.append(lines[j][1:-1].split(','))
                j += 1
            check(name, cols, rows)
            i = j
            continue
        i += 1


if __name__ == '__main__':
    main()
