#!/bin/sh
# Word-count reducer: sums the counts of `word,n` lines per word.
exec awk -F, '{ n[$1] += $2 } END { for (w in n) print w "," n[w] }'
