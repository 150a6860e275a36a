# Word-count mapper for the MAPREDUCE verb: each whitespace-separated
# word of a stdin line becomes one "word,1" line on stdout.
{ for (i = 1; i <= NF; i++) print $i ",1" }
