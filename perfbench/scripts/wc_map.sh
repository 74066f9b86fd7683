#!/bin/sh
# Word-count mapper: one `word,1` line per word of stdin.
exec awk '{ for (i = 1; i <= NF; i++) print $i ",1" }'
