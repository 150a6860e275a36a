# Word-count reducer for the MAPREDUCE verb: stdin holds "word,n" lines
# sorted so that each word's lines are contiguous; print "word,total".
BEGIN { FS = "," }
NR > 1 && $1 != word { print word "," n; n = 0 }
{ word = $1; n += $2 }
END { if (NR > 0) print word "," n }
